"""Invariant tests for non-SQL-expressible LLM ops (SURVEY.md §5.3):
planted-duplicate recall for MinHash/SimHash, ANN recall vs brute
force, decode-stub determinism and Arrow batch shape."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from hapiy_etl_spark.operators import dedup as D
from hapiy_etl_spark.operators import multimodal as M
from hapiy_etl_spark.operators import similarity as S
from hapiy_etl_spark.operators.multimodal import (
    _dhash_from_bytes,
    attach_binary_payload,
    decode_image_features,
    frame_sample_plan,
    phash_near_dup_pairs,
    video_near_dup_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while data pipelines "
    "shuffle partitions and brokers replay offsets across regions"
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    """100 distinct docs + exact dups of 0..4 + near dups (1 token edit) of 5..9."""
    rng = random.Random(42)
    vocab = BASE.split()
    rows = []
    for i in range(100):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(40)), None))
    for j in range(5):  # exact duplicates
        rows.append((100 + j, rows[j][1], j))
    for j in range(5, 10):  # near duplicates: one token changed
        toks = rows[j][1].split()
        toks[7] = "REPLACED"
        rows.append((100 + j, " ".join(toks), j))
    return spark.createDataFrame(rows, "doc_id long, text string, dup_of long")


def test_exact_dedup_removes_planted_exacts(spark, planted_docs):
    kept = D.exact_dedup(planted_docs, "text", "doc_id")
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert len(ids) == 105  # 110 − 5 exact dups
    for j in range(5):
        assert j in ids and (100 + j) not in ids  # lowest id survives
    assert {r.dup_count for r in kept.where(F.col("doc_id") < 5).collect()} == {2}


def test_minhash_lsh_recall_on_planted(spark, planted_docs):
    pairs = D.minhash_lsh_pairs(planted_docs, "doc_id", "text", n=3, jaccard_threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    for j in range(10):  # every planted pair (exact and near) recalled
        assert (j, 100 + j) in got, f"planted pair {j} missed"
    # all reported candidates truly meet the threshold (refine step ran)
    assert pairs.where(F.col("jaccard_distance") > 0.5).count() == 0


def test_minhash_native_recall_and_agreement(spark, planted_docs):
    pairs = D.minhash_native_pairs(planted_docs, "doc_id", "text", n=3, jaccard_threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard_est for r in pairs.collect()}
    for j in range(5):
        assert got.get((j, 100 + j)) == 1.0, f"exact dup {j} must estimate 1.0"
    near_found = sum((j, 100 + j) in got for j in range(5, 10))
    assert near_found >= 4, f"native minhash recall too low: {near_found}/5"
    # agreement with exact jaccard on real data: every reported pair is
    # genuinely similar (estimator within banding tolerance)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_pairs(planted_docs, "doc_id", "text", n=3, threshold=0.0).collect()
    }
    for p, est in got.items():
        assert exact.get(p, 0.0) >= 0.3, f"false positive {p} est={est}"


def test_minhash_portable_kernel_recall(spark, planted_docs):
    """The md5 portable kernel is a different base hash but the same
    banding math — exact dups still estimate 1.0 and planted near-dups
    still collide, with no low-similarity false positives."""
    pairs = D.minhash_native_pairs(
        planted_docs, "doc_id", "text", n=3, jaccard_threshold=0.5,
        portable=True,
    )
    got = {(r.id_a, r.id_b): r.jaccard_est for r in pairs.collect()}
    for j in range(5):
        assert got.get((j, 100 + j)) == 1.0, f"exact dup {j} must estimate 1.0"
    near_found = sum((j, 100 + j) in got for j in range(5, 10))
    assert near_found >= 4, f"portable minhash recall too low: {near_found}/5"
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_pairs(planted_docs, "doc_id", "text", n=3, threshold=0.0).collect()
    }
    for p, est in got.items():
        assert exact.get(p, 0.0) >= 0.3, f"false positive {p} est={est}"


def test_dedup_against_index_matches_cross_split_native(spark, planted_docs):
    """Incremental dedup (r9): corpus signatures persisted once, a new
    batch checked against them with NO corpus text rescan. The planted
    duplicates (100+j duplicates j) all cross the split, so every one
    must surface as (new_id, dup_of); the result must agree exactly
    with minhash_native_pairs' cross-split subset (same kernel, same
    banding — only the join shape differs)."""
    corpus = planted_docs.where(F.col("doc_id") < 100)
    batch = planted_docs.where(F.col("doc_id") >= 100)
    kw = dict(n=3, num_hashes=16, seed=42, portable=True)
    idx_sigs = D.minhash_signatures(corpus, "doc_id", "text", **kw)
    batch_sigs = D.minhash_signatures(batch, "doc_id", "text", **kw)
    got = {
        (r.new_id, r.dup_of): r.jaccard_est
        for r in D.dedup_against_index(
            batch_sigs, idx_sigs, jaccard_threshold=0.5, portable=True
        ).collect()
    }
    for j in range(5):  # planted exacts: estimate exactly 1.0
        assert got.get((100 + j, j)) == 1.0
    near_found = sum((100 + j, j) in got for j in range(5, 10))
    assert near_found >= 4, f"incremental recall too low: {near_found}/5"
    # exact agreement with the self-join path restricted to the split
    native = {
        (r.id_b, r.id_a): r.jaccard_est
        for r in D.minhash_native_pairs(
            planted_docs, "doc_id", "text", n=3, jaccard_threshold=0.5,
            portable=True,
        ).collect()
        if r.id_b >= 100 and r.id_a < 100
    }
    assert got == native

    # round-trip: signatures survive a parquet write (the index table)
    p = str(spark.conf.get("spark.sql.warehouse.dir")).replace("file:", "")
    path = f"{p}/__dedupidx_test"
    idx_sigs.write.mode("overwrite").parquet(path)
    got2 = {
        (r.new_id, r.dup_of): r.jaccard_est
        for r in D.dedup_against_index(
            batch_sigs, spark.read.parquet(path),
            jaccard_threshold=0.5, portable=True,
        ).collect()
    }
    assert got2 == got


def test_jaccard_pairs_finds_planted_only_high(spark, planted_docs):
    pairs = D.jaccard_pairs(planted_docs, "doc_id", "text", n=3, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    for j in range(5):
        assert got.get((j, 100 + j)) == 1.0  # exact dup → jaccard 1
    for j in range(5, 10):
        assert (j, 100 + j) in got  # near dup above 0.5


def test_simhash_near_dup_on_planted(spark, planted_docs):
    pairs = D.simhash_pairs(planted_docs, "doc_id", "text", max_hamming=8)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    for j in range(5):
        assert got.get((j, 100 + j)) == 0  # identical text → identical sig
    found_near = sum((j, 100 + j) in got for j in range(5, 10))
    assert found_near >= 3  # 1-token edit rarely flips > 8 bits


def test_simhash_portable_kernel_near_dup_on_planted(spark, planted_docs):
    """The md5 portable kernel is a 60-bit signature but the same
    majority-vote + Manku banding — identical text still hashes to
    hamming 0 and near-dups still surface."""
    pairs = D.simhash_pairs(
        planted_docs, "doc_id", "text", max_hamming=8, portable=True
    )
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    for j in range(5):
        assert got.get((j, 100 + j)) == 0
    found_near = sum((j, 100 + j) in got for j in range(5, 10))
    assert found_near >= 3


def test_dedup_clusters_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)], "id_a long, id_b long"
    )
    labels = {r.doc_id: r.cluster_id for r in D.dedup_clusters(pairs).collect()}
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == 10
    assert labels[20] == labels[21] == labels[22] == labels[23] == 20


@pytest.fixture(scope="module")
def planted_vectors(spark):
    """50 random 16-dim vectors; vec 100+q ≈ vec q + tiny noise."""
    rng = random.Random(7)
    rows = []
    for i in range(50):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(16)]))
    for q in range(5):
        rows.append((100 + q, [x + rng.uniform(-0.01, 0.01) for x in rows[q][1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_finds_planted_neighbor(spark, planted_vectors):
    queries = planted_vectors.where(F.col("vec_id") < 5)
    top = S.cosine_topk(queries, planted_vectors, "vec_id", "vec_id", k=1)
    got = {r.vec_id: (r.neighbor_id, r.cosine_sim) for r in top.collect()}
    for q in range(5):
        assert got[q][0] == 100 + q  # the noisy copy is the nearest
        assert got[q][1] > 0.999


def test_numpy_topk_equals_column_algebra(spark, planted_vectors):
    queries = planted_vectors.where(F.col("vec_id") < 5)
    exact = {
        (r.vec_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in S.cosine_topk(queries, planted_vectors, "vec_id", "vec_id", k=3).collect()
    }
    vec = {
        (r.vec_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in S.cosine_topk_numpy(queries, planted_vectors, "vec_id", "vec_id", k=3).collect()
    }
    assert set(exact) == set(vec)
    for key in exact:
        assert exact[key][0] == vec[key][0], key  # same neighbor
        assert abs(exact[key][1] - vec[key][1]) < 1e-4  # same similarity


def test_lsh_topk_recall_vs_bruteforce(spark, planted_vectors):
    queries = planted_vectors.where(F.col("vec_id") < 5)
    exact = {
        r.vec_id: r.neighbor_id
        for r in S.cosine_topk(queries, planted_vectors, "vec_id", "vec_id", k=1).collect()
    }
    approx = S.lsh_topk(
        queries, planted_vectors, "vec_id", "vec_id", k=1, dim=16, n_planes=4
    )
    got = {r.vec_id: r.neighbor_id for r in approx.collect()}
    # near-identical vectors land in the same hyperplane bucket
    hits = sum(got.get(q) == exact[q] for q in exact)
    assert hits >= 4, f"LSH recall too low: {hits}/5"


def test_ivf_topk_recall_vs_bruteforce(spark, planted_vectors):
    queries = planted_vectors.where(F.col("vec_id") < 5)
    approx = S.ivf_topk(
        queries, planted_vectors, "vec_id", "vec_id", k=1, n_centroids=4, n_probe=2
    )
    got = {r.vec_id: r.neighbor_id for r in approx.collect()}
    hits = sum(got.get(q) == 100 + q for q in range(5))
    assert hits >= 4, f"IVF recall too low: {hits}/5"


def test_lsh_probe_all_equals_bruteforce_exactly(spark, planted_vectors):
    """LSH's exact regime: 1 plane + radius-1 probing covers both
    buckets, so candidates are exhaustive and the ranking equals brute
    force exactly."""
    queries = planted_vectors.where(F.col("vec_id") < 5)
    exact = sorted(
        map(
            tuple,
            S.cosine_topk(
                queries, planted_vectors, "vec_id", "vec_id", k=3
            ).collect(),
        )
    )
    probe_all = sorted(
        map(
            tuple,
            S.lsh_topk(
                queries,
                planted_vectors,
                "vec_id",
                "vec_id",
                k=3,
                dim=16,
                n_planes=1,
                multi_probe=1,
            ).collect(),
        )
    )
    assert probe_all == exact


def test_ivf_persisted_index_probe_and_incremental_assign(spark, planted_vectors):
    """r9: the decomposed IVF stages. (1) build+probe reproduces the
    one-shot ivf_topk bit-for-bit (same quantizer seed, same joins).
    (2) ivf_index_assign puts rows in exactly the cell the quantizer's
    own transform would (same squared-L2 rule), so an incrementally
    grown index equals one built from scratch. (3) the index survives
    a parquet round-trip and a callable reader."""
    queries = planted_vectors.where(F.col("vec_id") < 5)
    kw = dict(k=3, n_centroids=4, n_probe=2)
    oneshot = sorted(map(tuple, S.ivf_topk(
        queries, planted_vectors, "vec_id", "vec_id", **kw
    ).collect()))

    cent, assigned = S.ivf_index_build(planted_vectors, "vec_id", n_centroids=4)
    staged = sorted(map(tuple, S.ivf_probe_index(
        queries, cent, assigned, "vec_id", "vec_id", k=3, n_probe=2
    ).collect()))
    assert staged == oneshot

    # incremental assign == the quantizer's own assignment
    re_assigned = S.ivf_index_assign(cent, planted_vectors, "vec_id")
    want = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    got = {r["vec_id"]: r["cell"] for r in re_assigned.collect()}
    assert got == want

    # parquet round-trip + callable reader (the TxTable probe shape)
    p = str(spark.conf.get("spark.sql.warehouse.dir")).replace("file:", "")
    path = f"{p}/__ivfidx_test"
    assigned.write.mode("overwrite").parquet(path)
    seen_cells = []

    def reader(cells):
        seen_cells.append(list(cells))
        return spark.read.parquet(path).where(F.col("cell").isin(cells))

    stored = sorted(map(tuple, S.ivf_probe_index(
        queries, cent, reader, "vec_id", "vec_id", k=3, n_probe=2
    ).collect()))
    assert stored == oneshot
    assert seen_cells and len(seen_cells[0]) <= 4  # bounded cell list


def test_ivf_probe_all_equals_bruteforce_exactly(spark, planted_vectors):
    """IVF's exact regime: n_probe == n_centroids searches every
    inverted list, so the ranking is identical to brute force —
    neighbor ids, ranks, and rounded sims — regardless of where the
    quantizer put the cells."""
    queries = planted_vectors.where(F.col("vec_id") < 5)
    exact = sorted(
        map(
            tuple,
            S.cosine_topk(
                queries, planted_vectors, "vec_id", "vec_id", k=3
            ).collect(),
        )
    )
    probe_all = sorted(
        map(
            tuple,
            S.ivf_topk(
                queries,
                planted_vectors,
                "vec_id",
                "vec_id",
                k=3,
                n_centroids=4,
                n_probe=4,
            ).collect(),
        )
    )
    assert probe_all == exact


def test_pq_lossless_codebook_equals_bruteforce_l2(spark, planted_vectors):
    """PQ's exact regime: codebooks trained on the whole corpus with
    n_codes >= corpus size are lossless (every sub-vector is its own
    codeword), so ADC distances are the true squared-L2 and the
    ranking equals numpy brute force under the (distance, cid) order."""
    import numpy as np

    queries = planted_vectors.where(F.col("vec_id") < 5)
    got = {
        (r.vec_id, r.rank): (r.neighbor_id, r.approx_l2sq)
        for r in S.pq_topk(
            queries,
            planted_vectors,
            "vec_id",
            "vec_id",
            k=3,
            m=8,
            n_codes=64,
            train_limit=10_000,
        ).collect()
    }
    rows = planted_vectors.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    for q in range(5):
        qv = mat[ids == q][0]
        d = ((mat - qv) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        want = [(int(ids[i]), float(d[i])) for i in order if ids[i] != q][:3]
        for rank, (nid, dist) in enumerate(want, start=1):
            g_nid, g_d = got[(q, rank)]
            assert g_nid == nid, (q, rank, g_nid, nid)
            assert abs(g_d - dist) < 1e-6, (q, rank, g_d, dist)


def test_decode_stub_deterministic_and_batched(spark):
    df = spark.createDataFrame([(i, f"payload {i}") for i in range(20)], "doc_id long, text string")
    with_payload = attach_binary_payload(df, "text")
    a = sorted(decode_image_features(with_payload).collect())
    b = sorted(decode_image_features(with_payload).collect())
    assert a == b  # deterministic fake decode
    assert all(64 <= r.width < 256 and 64 <= r.height < 256 for r in a)
    assert len(a) == 20


def test_frame_sample_counts_follow_metadata(spark):
    df = spark.createDataFrame([(1, "x" * 95), (2, "y" * 10)], "doc_id long, text string")
    out = frame_sample_plan(attach_binary_payload(df, "text"), every_n=10)
    counts = {r[0]: 0 for r in out.collect()}
    for r in out.collect():
        counts[r.doc_id] = counts.get(r.doc_id, 0) + 1
    # 95 bytes → 96 frames → ceil(96/10)=10 samples; 10 bytes → 11 frames → 2
    assert counts == {1: 10, 2: 2}


def test_dhash_locality_and_sign(spark):
    """The dHash kernel has the two properties perceptual dedup rests
    on: identical payloads hash identically, a few in-place byte edits
    move only the touched grid cells (small hamming), and unrelated
    payloads land near the 32-bit random-sign expectation."""
    rng = random.Random(7)
    base = bytes(rng.randrange(256) for _ in range(1200))
    other = bytes(rng.randrange(256) for _ in range(1100))

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    s0 = _dhash_from_bytes(base)
    assert _dhash_from_bytes(base) == s0  # deterministic
    edited = bytearray(base)
    for pos in (100, 700):
        edited[pos] = (edited[pos] + 40) % 256
    assert ham(s0, _dhash_from_bytes(bytes(edited))) <= 3
    assert ham(s0, _dhash_from_bytes(other)) > 10
    # degenerate payloads don't crash and are stable
    assert _dhash_from_bytes(b"") == _dhash_from_bytes(b"")
    assert isinstance(_dhash_from_bytes(b"x"), int)
    # signed-long packing: the result always fits a Spark LongType
    for payload in (base, other, b"", b"\xff" * 80):
        v = _dhash_from_bytes(payload)
        assert -(1 << 63) <= v < (1 << 63)


def _make_png(width: int, height: int, pixel_fn) -> bytes:
    """A real 8-bit grayscale PNG from the stdlib alone (zlib + crc32) —
    so the Pillow-gated decode test has an actual image to decode
    without needing Pillow to CREATE it."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes(pixel_fn(x, y) for x in range(width))
        for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_real_decode_is_import_gated(spark):
    """use_real_decode=True without Pillow raises the loud pointer
    instead of failing inside tasks (the Delta-gateway gating pattern);
    the stub default is unaffected by Pillow's presence."""
    from hapiy_etl_spark.operators.multimodal import pil_available

    df = attach_binary_payload(
        spark.createDataFrame([(1, "p")], "doc_id long, text string"), "text"
    )
    if pil_available():
        pytest.skip("Pillow present: the gate opens — covered below")
    with pytest.raises(NotImplementedError, match="[Pp]illow"):
        decode_image_features(df, use_real_decode=True)
    with pytest.raises(NotImplementedError, match="[Pp]illow"):
        M.dhash_signatures(df, use_real_decode=True).count()
    with pytest.raises(NotImplementedError, match="[Pp]illow"):
        M.frame_dhash_signatures(df, use_real_decode=True).count()


def test_real_decode_png_when_pillow_present(spark):
    """When Pillow IS importable the real path decodes an actual PNG:
    true width/height/mean-luma from decode_image_features, and a
    deterministic dHash whose locality mirrors the stub's (a small
    brightness edit moves few bits; an unrelated image moves many).
    Skips where the library is absent (this container)."""
    from hapiy_etl_spark.operators.multimodal import pil_available

    if not pil_available():
        pytest.skip("Pillow not importable in this environment")
    flat = _make_png(12, 7, lambda x, y: 100)
    grad = _make_png(40, 30, lambda x, y: (x * 6) % 256)
    grad2 = _make_png(40, 30, lambda x, y: (x * 6 + (3 if x == y == 0 else 0)) % 256)
    noise = _make_png(40, 30, lambda x, y: (x * 37 + y * 91 + x * y) % 256)
    rows = [(1, flat), (2, grad), (3, grad2), (4, noise)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    feats = {r.doc_id: r for r in decode_image_features(df, use_real_decode=True).collect()}
    assert (feats[1].width, feats[1].height) == (12, 7)
    assert abs(feats[1].mean_luma - 100 / 255) < 1e-6
    assert (feats[2].width, feats[2].height) == (40, 30)
    sigs = {r.doc: r.sig for r in M.dhash_signatures(df, use_real_decode=True).collect()}
    sigs_again = {r.doc: r.sig for r in M.dhash_signatures(df, use_real_decode=True).collect()}
    assert sigs == sigs_again  # deterministic
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(sigs[2], sigs[3]) <= 3  # one-pixel edit: tiny movement
    assert ham(sigs[2], sigs[4]) > 10  # unrelated image: far away


def test_phash_near_dup_planted_recall(spark):
    """Planted perceptual near-dups (same-length in-place edits) are
    ALL found at hamming <= 3 — pigeonhole recall 1.0 through the
    shared Manku banding — and exact copies sit at hamming 0, while
    no unrelated pair sneaks in below the refine threshold."""
    rng = random.Random(11)
    rows = []
    originals = {}
    for i in range(40):
        txt = " ".join(
            rng.choice(BASE.split()) for _ in range(rng.randrange(60, 120))
        )
        originals[i] = txt
        rows.append((i, txt))
    # 0..4 exact copies; 5..9 in-place 3-char edits (length preserved)
    for j in range(5):
        rows.append((100 + j, originals[j]))
    for j in range(5, 10):
        t = originals[j]
        rows.append((100 + j, t[:20] + "ZZZ" + t[23:]))
    df = attach_binary_payload(
        spark.createDataFrame(rows, "doc_id long, text string"), "text"
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_near_dup_pairs(df, "doc_id", max_hamming=3).collect()
    }
    for j in range(5):
        assert got.get((j, 100 + j)) == 0  # identical payload → sig
    found_near = sum((j, 100 + j) in got for j in range(5, 10))
    assert found_near >= 4  # 3 in-place bytes rarely flip > 3 bits
    # every reported pair respects the refine threshold
    assert all(h <= 3 for h in got.values())


def test_video_phash_catches_what_exact_frames_miss(spark):
    """The regime gap video_near_dup_pairs exists for: a copy whose
    EVERY frame is sparsely re-encoded (1 byte changed per frame)
    shares ZERO exact frame digests with its original, yet the
    perceptual vote still pairs them — while an unrelated video never
    clears the frame-vote threshold."""
    rng = random.Random(13)

    def vid(n=800):
        return bytes(rng.randrange(256) for _ in range(n))

    base = vid()
    # re-encode: one byte nudged inside each of the 8 frame slices
    step = -(-len(base) // 8)
    enc = bytearray(base)
    for f in range(8):
        p = f * step + 3
        enc[p] = (enc[p] + 10) % 256
    rows = [(1, base), (2, bytes(enc)), (3, vid()), (4, base)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    got = {
        (r.vid_a, r.vid_b): r.n_matching_frames
        for r in video_near_dup_pairs(
            df, "doc_id", n_frames=8, max_hamming=3, min_matching_frames=6
        ).collect()
    }
    assert got.get((1, 2), 0) >= 6  # perceptual: re-encoded copy pairs
    assert got.get((1, 4)) == 8  # byte-identical copy: all frames
    assert (1, 3) not in got and (2, 3) not in got  # unrelated never

    # the exact regime misses the re-encoded pair entirely: no frame
    # slice of doc 2 is byte-identical to doc 1's
    import hashlib

    d1 = {hashlib.sha256(base[f * step : (f + 1) * step]).digest() for f in range(8)}
    d2 = {
        hashlib.sha256(bytes(enc)[f * step : (f + 1) * step]).digest()
        for f in range(8)
    }
    assert not d1 & d2


def test_real_multiframe_decode_when_pillow_present(spark):
    """When Pillow IS importable, frame_dhash_signatures(use_real_
    decode=True) walks a REAL frame sequence (GIF via Pillow's own
    save/seek support — r15, VERDICT r14 item 6): a 12-frame GIF
    yields 8 evenly-sampled distinct-frame hashes, a single-frame
    image degrades to 8 copies of its one frame, and the signatures
    are deterministic. Skips where the library is absent (this
    container); the byte-slice stub default is pinned elsewhere."""
    from hapiy_etl_spark.operators.multimodal import pil_available

    if not pil_available():
        pytest.skip("Pillow not importable in this environment")
    import io

    import numpy as np
    from PIL import Image

    def frame(v):
        # strong per-frame gradient so distinct frames hash apart
        a = np.fromfunction(
            lambda y, x: (x * (v + 2) + y * 3) % 256, (30, 40)
        ).astype("uint8")
        return Image.fromarray(a, mode="L")

    buf = io.BytesIO()
    frames = [frame(v) for v in range(12)]
    frames[0].save(
        buf, format="GIF", save_all=True, append_images=frames[1:]
    )
    gif = buf.getvalue()
    one = io.BytesIO()
    frame(0).save(one, format="PNG")
    png = one.getvalue()
    df = spark.createDataFrame(
        [(1, gif), (2, png)], "doc_id long, payload binary"
    )
    rows = M.frame_dhash_signatures(df, n_frames=8, use_real_decode=True).collect()
    again = M.frame_dhash_signatures(df, n_frames=8, use_real_decode=True).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc, {})[r.frame_idx] = r.sig
    assert set(by_doc[1]) == set(range(8))  # exactly n_frames rows
    assert len(set(by_doc[1].values())) >= 4  # distinct frames differ
    assert len(set(by_doc[2].values())) == 1  # single frame repeats


def test_audio_fingerprint_locality():
    """The band-energy window signature (Haitsma-Kalker family) has
    the locality every perceptual kernel here pins: a few edited
    samples move a few bits, an unrelated waveform moves many —
    unlike a digest, where one sample flips every bit."""
    import numpy as np

    from hapiy_etl_spark.operators.multimodal import _band_energy_sig

    rng = random.Random(5)
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    for _ in range(5):
        x = np.array([rng.gauss(0, 40) for _ in range(600)])
        edited = x.copy()
        edited[100:103] += 25.0  # 3 samples nudged
        other = np.array([rng.gauss(0, 40) for _ in range(600)])
        s0, s1, s2 = map(_band_energy_sig, (x, edited, other))
        assert s0 == _band_energy_sig(x)  # deterministic
        assert ham(s0, s1) <= 4
        assert ham(s0, s2) > 6


def test_audio_near_dup_planted_recall(spark):
    """Audio near-dup vote: exact copies match 8/8 windows, sparsely
    re-encoded copies (every window touched — zero exact window
    digests survive) still clear the >= 6 aligned-window vote, and
    unrelated payloads never pair (the video regime-gap test for the
    audio kind)."""
    rng = random.Random(23)
    rows = []
    originals = {}
    for i in range(30):
        data = bytes(rng.randrange(256) for _ in range(800))
        originals[i] = data
        rows.append((i, data))
    for j in range(3):  # exact copies
        rows.append((100 + j, originals[j]))
    for j in range(3, 6):  # sparse re-encode: one sample per window
        enc = bytearray(originals[j])
        step = -(-len(enc) // 8)
        for w in range(8):
            p = w * step + 5
            enc[p] = (enc[p] + 10) % 256
        rows.append((100 + j, bytes(enc)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        (r.aud_a, r.aud_b): r.n_matching_windows
        for r in M.audio_near_dup_pairs(
            df, "doc_id", n_windows=8, max_hamming=3, min_matching_windows=6
        ).collect()
    }
    for j in range(3):
        assert got.get((j, 100 + j)) == 8  # identical payload
    found = sum((j, 100 + j) in got for j in range(3, 6))
    assert found >= 2  # sparse re-encode survives the vote
    unrelated = [(a, b) for (a, b) in got if b < 100 or (b - 100) != a]
    assert not unrelated


def test_audio_real_wav_decode(spark):
    """The audio real-decode gate is OPEN in this container: PCM WAV
    decodes via the stdlib wave module — 16-bit mono samples come back
    exactly, stereo averages to mono, a slightly amplitude-perturbed
    re-encode stays within small per-window hamming of its original
    through the REAL decode path, and a non-WAV payload raises the
    loud pointer instead of failing inside tasks."""
    import io
    import struct
    import wave as wavemod

    import numpy as np

    from hapiy_etl_spark.operators.multimodal import (
        _band_energy_sig,
        _wav_decode,
    )

    def make_wav(samples, n_ch=1, rate=8000):
        buf = io.BytesIO()
        with wavemod.open(buf, "wb") as w:
            w.setnchannels(n_ch)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(
                b"".join(struct.pack("<h", int(s)) for s in samples)
            )
        return buf.getvalue()

    t = np.arange(4000)
    sine = (3000 * np.sin(2 * np.pi * 440 * t / 8000)).astype(np.int64)
    wav = make_wav(sine)
    assert np.array_equal(_wav_decode(wav), sine.astype(np.float64))
    # stereo: channels average to mono
    stereo = make_wav(
        np.column_stack([sine, sine + 100]).ravel(), n_ch=2
    )
    assert np.allclose(_wav_decode(stereo), sine + 50.0)
    # perturbed re-encode: tiny amplitude dither, small hamming
    dither = (sine + np.where(t % 997 == 0, 40, 0)).astype(np.int64)
    df = spark.createDataFrame(
        [(1, wav), (2, make_wav(dither))], "doc_id long, payload binary"
    )
    sigs: dict = {}
    for r in M.audio_window_signatures(
        df, n_windows=8, use_real_decode=True
    ).collect():
        sigs.setdefault(r.doc, {})[r.window_idx] = r.sig
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert all(
        ham(sigs[1][w], sigs[2][w]) <= 3 for w in range(8)
    )
    # non-WAV payload: loud gate, raised before any per-row mystery
    bad = spark.createDataFrame(
        [(9, b"not a wav at all")], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="not a readable WAV"):
        M.audio_window_signatures(bad, use_real_decode=True).count()


def test_phash_key_cap_prunes_hot_signatures(spark):
    """Degenerate payloads (constant/black images) hash to IDENTICAL
    dHash signatures, so one hot (band, key) bucket makes the band
    self-join quadratic: without the cap a 300-payload constant
    cluster materializes all C(300,2) pairs; with the default
    key_cap=200 the hot buckets drop BEFORE the join and the cluster
    yields zero perceptual candidates — while planted near-dup pairs
    (distinct bases, in-place edits) keep full recall through their
    non-degenerate buckets (mirror of the Jaccard hot-shingle test)."""
    rng = random.Random(17)
    rows = [(i, b"\x00" * 900) for i in range(300)]  # hot cluster
    planted = []
    for j in range(5):
        base = bytes(rng.randrange(256) for _ in range(1100))
        edited = bytearray(base)
        edited[200] = (edited[200] + 50) % 256
        rows.append((1000 + j, base))
        rows.append((2000 + j, bytes(edited)))
        planted.append((1000 + j, 2000 + j))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    capped = {
        (r.id_a, r.id_b)
        for r in phash_near_dup_pairs(df, "doc_id", max_hamming=3).collect()
    }
    assert not any(a < 300 and b < 300 for a, b in capped)  # hot cluster pruned
    assert all(p in capped for p in planted)  # recall intact

    uncapped = phash_near_dup_pairs(df, "doc_id", max_hamming=3, key_cap=None)
    n_hot = uncapped.where((F.col("id_a") < 300) & (F.col("id_b") < 300)).count()
    assert n_hot == 300 * 299 // 2  # the blowup the cap exists to stop


def test_video_key_cap_prunes_constant_frames(spark):
    """Videos made of one repeated black frame must not pair through
    the perceptual vote once the hot-signature cap applies; a planted
    re-encoded copy of a real video still votes through."""
    rng = random.Random(19)
    base = bytes(rng.randrange(256) for _ in range(800))
    step = -(-len(base) // 8)
    enc = bytearray(base)
    for f in range(8):
        enc[f * step + 3] = (enc[f * step + 3] + 10) % 256
    rows = [(i, b"\x00" * 800) for i in range(250)]  # constant-frame corpus
    rows += [(1001, base), (1002, bytes(enc))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        (r.vid_a, r.vid_b): r.n_matching_frames
        for r in video_near_dup_pairs(
            df, "doc_id", n_frames=8, max_hamming=3, min_matching_frames=6
        ).collect()
    }
    assert got.get((1001, 1002), 0) >= 6  # planted copy still votes through
    assert not any(a < 1000 and b < 1000 for a, b in got)  # hot frames pruned


def test_jaccard_df_cap_preserves_planted(spark, planted_docs):
    """Capped and uncapped results agree when no shingle is hot."""
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_pairs(planted_docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_pairs(
            planted_docs, "doc_id", "text", n=3, threshold=0.5, df_cap=50
        ).collect()
    }
    assert capped == uncapped


def test_jaccard_df_cap_prunes_hot_shingles(spark):
    """Boilerplate shared by every doc must not make the self-join
    quadratic: with the cap, docs that only share hot shingles produce
    ZERO candidate pairs; without it, all C(n,2) pairs materialize."""
    boiler = "terms of service apply to all content on this mirror site daily"
    rows = [
        (i, f"{boiler} unique{i}a unique{i}b unique{i}c")
        for i in range(50)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hot = D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    assert hot.count() == 50 * 49 // 2  # boilerplate pairs everything
    capped = D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5, df_cap=10)
    assert capped.count() == 0  # hot shingles dropped -> no candidates at all


def test_lsh_multiprobe_and_tables_improve_recall(spark, planted_vectors):
    """Multi-probe / multi-table candidate sets strictly contain the
    single-table set, so recall is monotone in both knobs."""
    queries = planted_vectors.where(F.col("vec_id") < 5)

    def hits(**kw):
        got = {
            r.vec_id: r.neighbor_id
            for r in S.lsh_topk(
                queries, planted_vectors, "vec_id", "vec_id", k=1, dim=16, n_planes=6, **kw
            ).collect()
        }
        return sum(got.get(q) == 100 + q for q in range(5))

    base = hits()
    probed = hits(multi_probe=1)
    tabled = hits(n_tables=3)
    assert probed >= base
    assert tabled >= base
    assert hits(n_tables=2, multi_probe=1) == 5  # belt and braces: full recall


def test_shared_span_pairs_exact_lengths(spark):
    """Planted verbatim spans: reported longest run equals the true
    shared-token count, and sub-threshold overlap is not flagged."""
    span = " ".join(f"w{i}" for i in range(15))  # 15-token verbatim span
    rows = [
        (1, f"alpha beta {span} gamma delta"),
        (2, f"one two three {span} four"),
        (3, "completely different text with no overlap at all here okay"),
        # doc 4 shares only 8 tokens with the span (< k=10 window)
        (4, "x1 x2 " + " ".join(f"w{i}" for i in range(8)) + " y1 y2 y3"),
        # docs shorter than k=10 tokens: no k-gram window exists at all.
        # Spark's sequence(0, -1) yields [0, -1] (descending), which made
        # slice(toks, 0, k) throw at runtime before the short-doc guard.
        (5, "tiny doc"),
        (6, ""),
        (7, "exactly nine tokens here one two three four five"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.longest_span_tokens
        for r in D.shared_span_pairs(docs, "doc_id", "text", k=10, min_span_tokens=12).collect()
    }
    assert got == {(1, 2): 15}


def test_pq_topk_recall_vs_bruteforce(spark, planted_vectors):
    """PQ/ADC must surface the planted near-duplicate as the nearest
    neighbor for most queries — quantization error is tiny next to the
    distance to random vectors."""
    queries = planted_vectors.where(F.col("vec_id") < 5)
    approx = S.pq_topk(
        queries, planted_vectors, "vec_id", "vec_id", k=1, m=4, n_codes=8
    )
    got = {r.vec_id: r.neighbor_id for r in approx.collect()}
    hits = sum(got.get(q) == 100 + q for q in range(5))
    assert hits >= 4, f"PQ recall too low: {hits}/5"


def test_ivfpq_recall(spark, planted_vectors):
    """IVF-PQ (residual ADC over cell-pruned candidates) surfaces the
    planted near-duplicate as the nearest neighbor for most queries —
    the planted pair lands in the same (or a probed) cell and residual
    quantization error stays tiny next to random-vector distance."""
    queries = planted_vectors.where(F.col("vec_id") < 5)
    approx = S.ivf_pq_topk(
        queries, planted_vectors, "vec_id", "vec_id", k=1,
        n_centroids=4, n_probe=2, m=4, n_codes=16,
    )
    got = {r.vec_id: r.neighbor_id for r in approx.collect()}
    hits = sum(got.get(q) == 100 + q for q in range(5))
    assert hits >= 4, f"IVF-PQ recall too low: {hits}/5"


def test_ivfpq_exact_regime_matches_bruteforce(spark, planted_vectors):
    """Probe-all + corpus-sized residual codebooks: the composed
    IVF-PQ path reconstructs the exact L2 ranking (the in-repo twin of
    the ann_ivfpq_exact_regime oracle pin), and is deterministic."""
    queries = planted_vectors.where(F.col("vec_id") < 5)
    nrows = planted_vectors.count()
    a = sorted(map(tuple, S.ivf_pq_topk(
        queries, planted_vectors, "vec_id", "vec_id", k=3,
        n_centroids=3, n_probe=3, m=4, n_codes=1024,
        train_fraction=1.0, train_limit=nrows,
    ).collect()))
    b = sorted(map(tuple, S.pq_topk(
        queries, planted_vectors, "vec_id", "vec_id", k=3,
        m=4, n_codes=1024, train_fraction=1.0, train_limit=nrows,
    ).collect()))
    assert a == b  # both exact regimes == the true squared-L2 ranking


def test_pq_rerank_recovers_exact_cosine_topk(spark, planted_vectors):
    """Exact re-ranking (refine>0, r14): when the ADC pool is wide
    enough to contain every true neighbor, the refined output IS the
    exact cosine top-k — re-ranking's guarantee is that quantization
    error only matters if it pushes a true neighbor out of the POOL.
    Here refine*k covers the whole corpus, so pq/ivfpq refined output
    must equal cosine_topk row for row, scores included."""
    queries = planted_vectors.where(F.col("vec_id") < 3)
    n = planted_vectors.count()
    exact = sorted(
        map(tuple, S.cosine_topk(queries, planted_vectors, "vec_id", "vec_id", k=2).collect())
    )
    pq = sorted(map(tuple, S.pq_topk(
        queries, planted_vectors, "vec_id", "vec_id", k=2, m=4, n_codes=8,
        refine=(n // 2) + 1,  # pool >= corpus: nothing can be missed
    ).collect()))
    assert pq == exact
    ipq = sorted(map(tuple, S.ivf_pq_topk(
        queries, planted_vectors, "vec_id", "vec_id", k=2,
        n_centroids=3, n_probe=3, m=4, n_codes=8,  # probe-all
        refine=(n // 2) + 1,
    ).collect()))
    assert ipq == exact


def test_pq_rerank_improves_recall_and_stays_bounded(spark, planted_vectors):
    """A modest refine=4 pool: refined recall of the planted nearest
    neighbor is at least the unrefined ADC recall (re-ranking can only
    re-order a superset pool), the schema flips to cosine_sim, and
    precomputed codebooks reproduce the in-call training bit for bit."""
    import numpy as np

    from hapiy_etl_spark.operators.similarity import (
        _pq_codebooks,
        _pq_training_sample,
    )

    queries = planted_vectors.where(F.col("vec_id") < 5)

    def hits(df):
        got = {r.vec_id: r.neighbor_id for r in df.where(F.col("rank") == 1).collect()}
        return sum(got.get(q) == 100 + q for q in range(5))

    raw = S.pq_topk(queries, planted_vectors, "vec_id", "vec_id", k=1, m=4, n_codes=8)
    refined = S.pq_topk(
        queries, planted_vectors, "vec_id", "vec_id", k=1, m=4, n_codes=8, refine=4
    )
    assert set(refined.columns) == {"vec_id", "neighbor_id", "rank", "cosine_sim"}
    assert hits(refined) >= hits(raw)
    # pluggable codebooks == in-call training (the audit-fixture path)
    sample = _pq_training_sample(planted_vectors, "vec_id", "embedding", 10_000, None, 42)
    books = _pq_codebooks(np.array(sample, dtype=np.float64), 4, 8, 42)
    via_books = sorted(map(tuple, S.pq_topk(
        queries, planted_vectors, "vec_id", "vec_id", k=1, codebooks=books
    ).collect()))
    assert via_books == sorted(map(tuple, raw.collect()))


def test_opq_rotation_reduces_quantization_error(spark):
    """OPQ (Ge et al.): on a CORRELATED corpus (latent factors mixed
    across subspace boundaries) the learned orthonormal rotation cuts
    PQ reconstruction error vs unrotated codebooks at identical
    geometry, R is orthonormal (metric-preserving), and the rotated
    pq_topk recalls planted near-dups at least as well raw-ADC."""
    import numpy as np

    from hapiy_etl_spark.operators.similarity import (
        _pq_codebooks,
        _pq_encode_decode,
        opq_rotation,
    )

    rng = np.random.RandomState(11)
    # 4 latent dims smeared across 16 coordinates: strong cross-
    # subspace correlation, the regime OPQ exists for
    z = rng.randn(400, 4)
    mix = rng.randn(4, 16)
    X = z @ mix + 0.05 * rng.randn(400, 16)
    m, n_codes = 4, 8
    R, books_r = opq_rotation(X, m, n_codes, seed=42, iters=5)
    assert np.allclose(R @ R.T, np.eye(16), atol=1e-8)  # orthonormal
    books_p = _pq_codebooks(X, m, n_codes, 42)
    err_plain = ((X - _pq_encode_decode(X, books_p)) ** 2).sum()
    Xr = X @ R
    err_opq = ((Xr - _pq_encode_decode(Xr, books_r)) ** 2).sum()
    assert err_opq < err_plain * 0.9, (err_opq, err_plain)

    # planted near-dups through the full Spark path: rotated recall >=
    # plain recall at the same geometry
    base = X[:50]
    rows = [(i, [float(v) for v in base[i]]) for i in range(50)]
    rows += [
        (100 + i, [float(v) for v in base[i] + 0.01 * rng.randn(16)])
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 5)

    def hits(**kw):
        got = {
            r.vec_id: r.neighbor_id
            for r in S.pq_topk(q, df, "vec_id", "vec_id", k=1, **kw)
            .where(F.col("rank") == 1)
            .collect()
        }
        return sum(got.get(i) == 100 + i for i in range(5))

    sample = np.array([r[0] for r in df.select("embedding").collect()])
    plain = hits(codebooks=_pq_codebooks(sample, m, n_codes, 42))
    R2, books2 = opq_rotation(sample, m, n_codes, seed=42, iters=5)
    rotated = hits(codebooks=books2, rotation=R2)
    assert rotated >= plain
    assert rotated >= 4  # absolute floor on the planted setup


def test_pq_index_probe_matches_one_shot(spark, planted_vectors):
    """The persisted-codes probe (r14) is the one-shot pq_topk split
    into encode-once + probe-forever: probing the codes reproduces
    pq_topk with the same codebooks row for row, incremental
    pq_index_assign batches union to the same index as one build, and
    the refine tail over codes equals the one-shot refine."""
    from hapiy_etl_spark.operators.similarity import (
        pq_index_assign,
        pq_index_build,
        pq_index_probe,
    )

    q = planted_vectors.where(F.col("vec_id") < 3)
    books, codes = pq_index_build(
        planted_vectors, "vec_id", m=4, n_codes=8, train_limit=10_000
    )
    via_index = sorted(map(tuple, pq_index_probe(
        q, books, codes, "vec_id", "vec_id", k=2
    ).collect()))
    one_shot = sorted(map(tuple, S.pq_topk(
        q, planted_vectors, "vec_id", "vec_id", k=2, codebooks=books
    ).collect()))
    assert via_index == one_shot
    # incremental assign: two batch encodes union to the same index
    h1 = planted_vectors.where(F.col("vec_id") % 2 == 0)
    h2 = planted_vectors.where(F.col("vec_id") % 2 != 0)
    inc = pq_index_assign(books, h1, "vec_id").unionByName(
        pq_index_assign(books, h2, "vec_id")
    )
    via_inc = sorted(map(tuple, pq_index_probe(
        q, books, inc, "vec_id", "vec_id", k=2
    ).collect()))
    assert via_inc == via_index
    # refine over codes == one-shot refine (raw vectors fetched from
    # the corpus only for the bounded candidate pool)
    r_index = sorted(map(tuple, pq_index_probe(
        q, books, codes, "vec_id", "vec_id", k=2, refine=4,
        corpus_raw=planted_vectors,
    ).collect()))
    r_one = sorted(map(tuple, S.pq_topk(
        q, planted_vectors, "vec_id", "vec_id", k=2, codebooks=books, refine=4
    ).collect()))
    assert r_index == r_one


def test_ivfpq_index_probe_matches_one_shot(spark, planted_vectors):
    """The persisted IVF-PQ index (r15) is the one-shot ivf_pq_topk
    split into build-once + probe-forever: with the SAME frozen
    quantizer and residual codebooks, probing the stored codes
    reproduces ivf_pq_topk row for row (lossy geometry — the parity is
    in the plumbing, not an exact regime), incremental
    ivfpq_index_assign batches union to the same index as one build,
    and the refine tail over stored codes equals the one-shot refine."""
    import numpy as np

    from hapiy_etl_spark.operators.similarity import (
        _pq_codebooks,
        _pq_training_sample,
        ivfpq_index_assign,
        ivfpq_index_build,
        ivfpq_index_probe,
        residual_transform,
    )

    q = planted_vectors.where(F.col("vec_id") < 3)
    cent, books, codes = ivfpq_index_build(
        planted_vectors, "vec_id", n_centroids=4, m=4, n_codes=8,
        train_limit=10_000,
    )
    codes = codes.cache()
    via_index = sorted(map(tuple, ivfpq_index_probe(
        q, cent, books, codes, "vec_id", "vec_id", k=2, n_probe=2
    ).collect()))
    # one-shot with the SAME artifacts (index= and codebooks= bypass
    # retraining, the ann_recall_audit sharing path)
    cent2, assigned = S.ivf_index_build(planted_vectors, "vec_id", n_centroids=4)
    one_shot = sorted(map(tuple, S.ivf_pq_topk(
        q, planted_vectors, "vec_id", "vec_id", k=2, n_probe=2,
        m=4, n_codes=8, index=(cent, assigned), codebooks=books,
    ).collect()))
    assert via_index == one_shot

    # incremental assign: two batch encodes against the frozen
    # quantizer + codebooks union to the same index as one pass
    h1 = planted_vectors.where(F.col("vec_id") % 2 == 0)
    h2 = planted_vectors.where(F.col("vec_id") % 2 != 0)
    inc = ivfpq_index_assign(cent, books, h1, "vec_id").unionByName(
        ivfpq_index_assign(cent, books, h2, "vec_id")
    )
    full = ivfpq_index_assign(cent, books, planted_vectors, "vec_id")
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, full.collect())
    )
    via_inc = sorted(map(tuple, ivfpq_index_probe(
        q, cent, books, inc, "vec_id", "vec_id", k=2, n_probe=2
    ).collect()))
    assert via_inc == via_index

    # refine over stored codes == one-shot refine (raw vectors fetched
    # only for the bounded candidate pool)
    r_index = sorted(map(tuple, ivfpq_index_probe(
        q, cent, books, codes, "vec_id", "vec_id", k=2, n_probe=2,
        refine=3, corpus_raw=planted_vectors,
    ).collect()))
    r_one = sorted(map(tuple, S.ivf_pq_topk(
        q, planted_vectors, "vec_id", "vec_id", k=2, n_probe=2,
        m=4, n_codes=8, index=(cent, assigned), codebooks=books, refine=3,
    ).collect()))
    assert r_index == r_one


def test_ivfpq_index_probe_exact_regime_equals_bruteforce(
    spark, planted_vectors
):
    """Probe-all + full-corpus residual codebooks with n_codes >= |corpus|:
    every residual is its own codeword, so ADC over the STORED codes
    reconstructs true squared-L2 and the persisted-index probe equals
    the exact numpy brute force under the same (distance, id) order —
    the invariant the registered [O] twin hash-checks at sf0.01."""
    import numpy as np

    from hapiy_etl_spark.operators.similarity import (
        ivfpq_index_build,
        ivfpq_index_probe,
    )

    q = planted_vectors.where(F.col("vec_id") < 3)
    cent, books, codes = ivfpq_index_build(
        planted_vectors, "vec_id", n_centroids=4, m=4, n_codes=64,
        train_limit=10_000, train_fraction=1.0,
    )
    got = {
        (r["vec_id"], r["rank"]): (r["neighbor_id"], r["approx_l2sq"])
        for r in ivfpq_index_probe(
            q, cent, books, codes, "vec_id", "vec_id", k=3, n_probe=4
        ).collect()
    }
    rows = planted_vectors.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    for qr in q.select("vec_id", "embedding").collect():
        d = ((mat - np.array(qr[1], dtype=np.float64)) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        want = [(int(ids[i]), round(float(d[i]), 6))
                for i in order if ids[i] != qr[0]][:3]
        for rank, (nid, dist) in enumerate(want, start=1):
            g_nid, g_d = got[(qr[0], rank)]
            assert g_nid == nid and abs(g_d - dist) < 1e-6


def test_pq_topk_deterministic(spark, planted_vectors):
    """Seeded codebooks + index tie-breaks: identical output across runs."""
    queries = planted_vectors.where(F.col("vec_id") < 3)
    a = sorted(map(tuple, S.pq_topk(queries, planted_vectors, "vec_id", "vec_id", k=3, m=4, n_codes=8).collect()))
    b = sorted(map(tuple, S.pq_topk(queries, planted_vectors, "vec_id", "vec_id", k=3, m=4, n_codes=8).collect()))
    assert a == b


def test_ivfpq_guards(spark, planted_vectors):
    """Empty query set returns a typed empty frame; a non-dividing m
    raises loudly (the pq_topk guard, inherited by the composition)."""
    import pytest as _pytest

    empty_q = planted_vectors.where(F.col("vec_id") < 0)
    out = S.ivf_pq_topk(
        empty_q, planted_vectors, "vec_id", "vec_id", k=3,
        n_centroids=3, n_probe=2, m=4, n_codes=8,
    )
    assert out.count() == 0
    assert set(out.columns) == {"vec_id", "neighbor_id", "rank", "approx_l2sq"}
    with _pytest.raises(ValueError, match="not divisible"):
        S.ivf_pq_topk(
            planted_vectors.where(F.col("vec_id") < 2),
            planted_vectors,
            "vec_id",
            "vec_id",
            n_centroids=3,
            m=5,  # 16-dim vectors: 16 % 5 != 0
            n_codes=8,
        )


def test_pq_topk_guards(spark, planted_vectors):
    """Empty query set returns an empty (correctly-typed) result, and a
    non-dividing m raises loudly instead of silently dropping dims."""
    import pytest as _pytest

    empty_q = planted_vectors.where(F.col("vec_id") < 0)
    out = S.pq_topk(empty_q, planted_vectors, "vec_id", "vec_id", k=3, m=4, n_codes=8)
    assert out.count() == 0
    assert set(out.columns) == {"vec_id", "neighbor_id", "rank", "approx_l2sq"}
    with _pytest.raises(ValueError, match="not divisible"):
        S.pq_topk(
            planted_vectors.where(F.col("vec_id") < 2),
            planted_vectors,
            "vec_id",
            "vec_id",
            m=5,  # 16-dim vectors: 16 % 5 != 0
            n_codes=8,
        )


def _clustered_corpus(spark):
    """Adversarially LAID-OUT corpus: the first 300 rows (ids 0-299,
    partition head) sit in a tight ball at the origin; rows 1000+ are
    spread unit-scale vectors with planted near-duplicate pairs
    (1000+q ~ 2000+q). A head-taken training sample sees only the ball."""
    import random as _random

    rng = _random.Random(13)
    rows = []
    for i in range(300):  # cluster A: degenerate head
        rows.append((i, [rng.uniform(-0.01, 0.01) for _ in range(16)]))
    spread = []
    for i in range(300):  # cluster B: the real distribution
        spread.append([rng.uniform(-1, 1) for _ in range(16)])
        rows.append((1000 + i, spread[-1]))
    for q in range(10):  # planted near-dups of the first 10 B vectors
        rows.append((2000 + q, [x + rng.uniform(-0.005, 0.005) for x in spread[q]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)


def test_pq_uniform_sample_fixes_head_bias(spark):
    """r5 finding: limit(train_limit) trains codebooks on the HEAD of
    the corpus — on a clustered layout the training set is 100% the
    first cluster and the codebooks never see the real distribution.
    train_fraction routes the bounded collect through the md5-uniform
    kernel (value-hash membership, layout-independent): the draw mixes
    clusters in corpus proportion, and end-to-end recall stays high."""
    from hapiy_etl_spark.operators.similarity import _pq_training_sample
    import numpy as np

    corpus = _clustered_corpus(spark)

    def ball_share(rows):
        # cluster-A (head ball) vectors have norm ≤ 0.04; cluster B ≥ 1
        return float(np.mean([np.linalg.norm(v) < 0.5 for v in rows]))

    head = _pq_training_sample(corpus, "vec_id", "embedding", 300, None, 42)
    sampled = _pq_training_sample(corpus, "vec_id", "embedding", 300, 0.6, 42)
    assert ball_share(head) == 1.0  # head-taken: ONLY the degenerate ball
    # md5-uniform: both clusters in roughly corpus proportion (~49% ball)
    assert 0.3 < ball_share(sampled) < 0.7
    assert len(sampled) == 300  # binding cap still fills the budget

    # and end-to-end: uniform-trained codebooks keep planted-pair recall
    queries = corpus.where((F.col("vec_id") >= 1000) & (F.col("vec_id") < 1010))
    got = {
        r.vec_id: r.neighbor_id
        for r in S.pq_topk(
            queries, corpus, "vec_id", "vec_id", k=1, m=4, n_codes=16,
            train_limit=300, train_fraction=0.6,
        ).collect()
    }
    recall = sum(got.get(1000 + q) == 2000 + q for q in range(10))
    assert recall >= 8, f"uniform-sampled PQ recall too low: {recall}/10"


def test_pq_train_sample_is_layout_invariant(spark):
    """The md5-uniform training sample is decided per VALUE, so the
    same corpus under a different partitioning/sort yields the SAME
    codebooks and the SAME ANN output — df.sample() cannot promise
    this (its draw depends on partition layout)."""
    corpus = _clustered_corpus(spark)
    queries = corpus.where(F.col("vec_id") < 3)
    relaid = corpus.repartition(7).sortWithinPartitions(F.col("vec_id").desc())
    kw = dict(k=3, m=4, n_codes=8, train_fraction=0.4, train_limit=200)
    a = sorted(map(tuple, S.pq_topk(queries, corpus, "vec_id", "vec_id", **kw).collect()))
    b = sorted(map(tuple, S.pq_topk(queries, relaid, "vec_id", "vec_id", **kw).collect()))
    assert a == b


def test_text_index_probe_matches_one_shot_and_prunes(spark, planted_docs, tmp_path):
    """Persisted inverted text index (r9): (a) history-then-batch
    incremental appends serve EXACTLY the ranking a one-shot full-corpus
    build serves (BM25 over the union — df, n_docs, avg_dl all merge
    correctly); (b) a probe's TxTable read touches only the query
    terms' bucket dirs (+ the mixed batch dir when one exists); (c) the
    driver-side bucket twin agrees with the Spark-side kernel; (d) the
    index survives a re-open from its path (parquet round-trip)."""
    from hapiy_etl_spark.operators import textindex as TI
    from hapiy_etl_spark.operators.txstore import TxTable, dirs_read

    docs = planted_docs.select("doc_id", "text")
    terms = ["data", "partitions", "fox"]

    # (c) kernel parity: Spark and Python assign identical buckets
    vocab_df = docs.select(
        F.explode(F.split("text", r"\s+")).alias("t")
    ).distinct()
    got = {
        r.t: r.b
        for r in vocab_df.select("t", TI.term_bucket(F.col("t")).alias("b")).collect()
    }
    for t, b in got.items():
        assert TI.term_bucket_py(t) == b, f"bucket twin diverges on {t!r}"

    # one-shot build over the whole corpus, bucket-split
    idx1 = TxTable(spark, str(tmp_path / "oneshot/postings"))
    meta1 = TxTable(spark, str(tmp_path / "oneshot/meta"))
    p, m = TI.postings_build(docs)
    TI.postings_append(idx1, meta1, p, m)
    one_shot = sorted(
        map(tuple, TI.bm25_probe_index(idx1.read(), meta1.read(), terms, k=50).collect())
    )

    # incremental: history bucket-split, late batch as one mixed dir
    idx2 = TxTable(spark, str(tmp_path / "incr/postings"))
    meta2 = TxTable(spark, str(tmp_path / "incr/meta"))
    hist = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    hp, hm = TI.postings_build(hist)
    TI.postings_append(idx2, meta2, hp, hm)
    bp, bm = TI.postings_build(batch)
    TI.postings_append(idx2, meta2, bp, bm, split_buckets=False)

    # (d) re-open both tables cold from their paths
    idx2r = TxTable(spark, str(tmp_path / "incr/postings"))
    meta2r = TxTable(spark, str(tmp_path / "incr/meta"))

    reads: list = []

    def reader(buckets):
        df = idx2r.read(where_in={"tb": buckets})
        reads.append((buckets, df))
        return df

    incr = sorted(
        map(tuple, TI.bm25_probe_index(reader, meta2r.read(), terms, k=50).collect())
    )
    assert incr == one_shot  # (a) bit-for-bit ranking agreement

    # (b) pruning: probed dirs <= |query buckets| (+1 mixed batch dir),
    # strictly fewer than the table's dirs
    qbuckets, probed = reads[-1]
    touched = dirs_read(probed)
    total = len(dirs_read(idx2r.read()))
    assert len(touched) <= len(qbuckets) + 1
    assert len(touched) < total


def test_text_index_reclusters_mixed_dir_on_optimize(spark, planted_docs, tmp_path):
    """A text index that accumulated mixed (split_buckets=False) batch
    dirs loses probe-side dir pruning; optimize_clustered(cluster_by=
    'tb') re-sorts the postings into bucket-tight dirs and pruning
    returns — with the probe ranking unchanged (a row-preserving
    rewrite). The maintenance story the textindex docstrings promise."""
    from hapiy_etl_spark.operators import textindex as TI
    from hapiy_etl_spark.operators.txstore import TxTable, dirs_read

    docs = planted_docs.select("doc_id", "text")
    terms = ["data", "partitions"]

    idx = TxTable(spark, str(tmp_path / "postings"))
    meta = TxTable(spark, str(tmp_path / "meta"))
    # three batches, all landed as mixed dirs: no pruning possible
    for m in range(3):
        p, mt = TI.postings_build(docs.where(F.col("doc_id") % 3 == m))
        TI.postings_append(idx, meta, p, mt, split_buckets=False)

    def probe():
        return sorted(
            map(
                tuple,
                TI.bm25_probe_index(idx.read(), meta.read(), terms, k=50).collect(),
            )
        )

    before = probe()
    qb = sorted({TI.term_bucket_py(t) for t in terms})
    # every dir is mixed: the manifest-stat prune cannot skip any of the 3
    assert len(dirs_read(idx.read(where_in={"tb": qb}))) == 3

    idx.optimize_clustered("tb", n_dirs=TI.N_BUCKETS, stats_cols=["tb"])
    after = probe()
    assert after == before  # row-preserving rewrite: same ranking
    touched = len(dirs_read(idx.read(where_in={"tb": qb})))
    total = len(dirs_read(idx.read()))
    assert touched < total  # bucket-tight dirs: pruning is back


def test_decontam_index_probe_matches_full_scan_and_prunes(spark, planted_docs, tmp_path):
    """Decontamination from a persisted shingle index (r9): (a) the
    probe against a two-append index (bucket-split history + one mixed
    batch dir, re-opened cold) equals a direct full-scan decontamination
    over the text; (b) the ratio's denominator is the doc's TOTAL
    distinct-shingle count even though only bench-matching postings
    survive the join — an exact duplicate of a benchmark doc scores
    contamination == 1.0; (c) a narrow (few-shingle) bench probes a
    strict subset of the bucket dirs."""
    from hapiy_etl_spark.operators import textindex as TI
    from hapiy_etl_spark.operators.txstore import TxTable, dirs_read

    docs = planted_docs.select("doc_id", "text")
    train = docs.where(F.col("doc_id") >= 10)

    idx = TxTable(spark, str(tmp_path / "shingle_postings"))
    hist = train.where(F.col("doc_id") % 2 == 0)
    batch = train.where(F.col("doc_id") % 2 == 1)
    TI.postings_append(idx, None, TI.shingle_postings_build(hist), None)
    TI.postings_append(
        idx, None, TI.shingle_postings_build(batch), None, split_buckets=False
    )
    idx = TxTable(spark, str(tmp_path / "shingle_postings"))  # cold re-open

    bench = docs.where(F.col("doc_id") < 10).select(
        F.explode(D.shingles("text", 3)).alias("s")
    )
    got = sorted(
        map(
            tuple,
            TI.decontam_probe_index(
                lambda bs: idx.read(where_in={"tb": bs}), bench, threshold=0.2
            ).collect(),
        )
    )

    # (a) direct full-scan recompute from the text
    sh = docs.select("doc_id", F.explode(D.shingles("text", 3)).alias("s"))
    b = sh.where(F.col("doc_id") < 10).select("s").distinct()
    tr = sh.where(F.col("doc_id") >= 10)
    sizes = tr.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    direct = sorted(
        map(
            tuple,
            tr.join(b, "s")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits"))
            .join(sizes, "doc_id")
            .select(
                "doc_id",
                "n_hits",
                F.round(F.col("n_hits") / F.col("n_sh"), 6).alias("contamination"),
            )
            .where(F.col("contamination") >= 0.2)
            .collect(),
        )
    )
    assert got == direct and got

    # (b) planted exact dups of bench docs 0..4 live at 100..104 (even
    # ones in history, odd in the mixed batch): full overlap, and the
    # denominator counted ALL their shingles, not just matching rows
    by_id = {r[0]: r for r in got}
    for j in range(5):
        assert by_id[100 + j][2] == 1.0

    # (c) a narrow bench (3 shingles of doc 0) prunes bucket dirs
    toks = docs.where(F.col("doc_id") == 0).first().text.split()
    three = [" ".join(toks[i : i + 3]) for i in range(3)]
    bench0 = spark.createDataFrame([(s,) for s in three], "s string")
    b0 = sorted({TI.term_bucket_py(s) for s in three})
    assert len(b0) < TI.N_BUCKETS
    touched = dirs_read(idx.read(where_in={"tb": b0}))
    total = dirs_read(idx.read())
    assert len(touched) <= len(b0) + 1  # bucket dirs + the mixed dir
    assert len(touched) < len(total)
    hits0 = TI.decontam_probe_index(
        lambda bs: idx.read(where_in={"tb": bs}), bench0, threshold=0.01
    )
    assert {r.doc_id for r in hits0.collect()} >= {100}  # dup of doc 0


def test_ivf_index_reclusters_mixed_dirs_on_optimize(spark, planted_vectors, tmp_path):
    """An IVF inverted file that accumulated MIXED batch dirs (each
    append holding every cell) loses probe-side dir pruning;
    optimize_clustered(cluster_by='cell') re-sorts rows into cell-tight
    dirs and pruning returns — with probe results unchanged (a
    row-preserving rewrite). The IVF twin of
    test_text_index_reclusters_mixed_dir_on_optimize: the maintenance
    story for an index grown by many small incremental assigns."""
    from hapiy_etl_spark.operators.txstore import TxTable, dirs_read

    cent, assigned = S.ivf_index_build(planted_vectors, "vec_id", n_centroids=4)
    idx = TxTable(spark, str(tmp_path / "ivf"))
    # three incremental batches, each spanning every cell: the per-dir
    # cell stats are [0, 3] everywhere — no probe can skip a dir
    for m in range(3):
        idx.append(
            assigned.where(F.col("vec_id") % 3 == m), stats_cols=["cell"]
        )

    queries = planted_vectors.where(F.col("vec_id") < 5)

    def probe():
        return sorted(
            map(
                tuple,
                S.ivf_probe_index(
                    queries,
                    cent,
                    lambda cells: idx.read(where_in={"cell": cells}),
                    "vec_id",
                    "vec_id",
                    k=3,
                    n_probe=2,
                ).collect(),
            )
        )

    before = probe()
    assert len(dirs_read(idx.read(where_in={"cell": [0]}))) == 3  # all mixed

    idx.optimize_clustered("cell", n_dirs=4, stats_cols=["cell"])
    assert probe() == before  # row-preserving rewrite: same neighbors
    touched = len(dirs_read(idx.read(where_in={"cell": [0]})))
    total = len(dirs_read(idx.read()))
    assert touched < total  # cell-tight dirs: the inverted-file read
    assert touched <= 2  # is dir pruning again


def test_decontam_probe_guards_empty_and_null_bench(spark, planted_docs, tmp_path):
    """Review fixes (r9): an empty or all-NULL bench raises a clear
    ValueError instead of crashing in the reader; NULL shingles are
    filtered before bucketing; bm25_probe_index rejects an empty term
    list the same way."""
    from hapiy_etl_spark.operators import textindex as TI
    from hapiy_etl_spark.operators.txstore import TxTable

    idx = TxTable(spark, str(tmp_path / "p"))
    TI.postings_append(
        idx,
        None,
        TI.shingle_postings_build(planted_docs.select("doc_id", "text")),
        None,
    )
    reader = lambda bs: idx.read(where_in={"tb": bs})  # noqa: E731
    empty = spark.createDataFrame([], "s string")
    with pytest.raises(ValueError, match="empty"):
        TI.decontam_probe_index(reader, empty)
    nulls = spark.createDataFrame([(None,)], "s string")
    with pytest.raises(ValueError, match="empty"):
        TI.decontam_probe_index(reader, nulls)
    with pytest.raises(ValueError, match="empty"):
        TI.bm25_probe_index(reader, None, [])
    # a NULL mixed into a real bench is ignored, not fatal
    toks = planted_docs.where(F.col("doc_id") == 0).first().text.split()
    sh = " ".join(toks[:3])
    mixed = spark.createDataFrame([(sh,), (None,)], "s string")
    got = TI.decontam_probe_index(reader, mixed, threshold=0.01).collect()
    assert {r.doc_id for r in got} >= {0, 100}


def test_shingle_postings_build_drops_null_text(spark, tmp_path):
    """NULL-text docs must contribute NO posting (the [''] fallback
    shingle the kernel would otherwise emit is junk the DuckDB twins
    never see)."""
    from hapiy_etl_spark.operators import textindex as TI

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, None)], "doc_id long, text string"
    )
    p = TI.shingle_postings_build(docs)
    assert {r.doc_id for r in p.select("doc_id").distinct().collect()} == {1}


def test_ingest_semdedup_drops_planted_and_keeps_null(spark, tmp_path):
    """Online semantic-dedup ingest (r9, the embedding twin of the
    MinHash sink): near-dup vectors of INDEXED rows drop at the next
    batch (bucket collision + exact cosine refine), an in-batch pair
    drops its higher id (greedy keep-first), a NULL-embedding row
    survives with a NULL bucket (never equi-joins), and a replayed
    epoch is a noop. Components are kept away from 0 so the planted
    noise can't flip a sign bit."""
    import random

    from hapiy_etl_spark.operators.txstore import TxTable
    from hapiy_etl_spark.streaming.jobs import ingest_semdedup_batch

    rng = random.Random(11)

    def vec():
        return [rng.choice([-1, 1]) * rng.uniform(0.1, 1.0) for _ in range(16)]

    def near(v):
        return [x + rng.uniform(-0.01, 0.01) for x in v]

    idxp = str(tmp_path / "idx")
    vs = [vec() for _ in range(10)]
    b1 = spark.createDataFrame(
        [(i, vs[i]) for i in range(10)], "vec_id long, embedding array<float>"
    )
    ingest_semdedup_batch(b1, idxp, 1, run_id="t")

    fresh = vec()
    b2 = spark.createDataFrame(
        [
            (100, near(vs[0])),  # near-dup of indexed 0 -> dropped
            (101, near(vs[1])),  # near-dup of indexed 1 -> dropped
            (102, fresh),  # new -> survives
            (103, near(fresh)),  # in-batch near-dup of 102 -> dropped
            (104, None),  # NULL embedding -> always survives
        ],
        "vec_id long, embedding array<float>",
    )
    ingest_semdedup_batch(b2, idxp, 2, run_id="t")

    def ids():
        return sorted(r.vec_id for r in TxTable(spark, idxp).read().collect())

    got = ids()
    assert [i for i in got if i >= 100] == [102, 104]
    assert [i for i in got if i < 100] == list(range(10))
    # NULL-embedding row carries a NULL bucket
    nb = TxTable(spark, idxp).read().where(F.col("vec_id") == 104).first()
    assert nb.bucket is None

    # replayed epoch: exactly-once, nothing re-appends
    ingest_semdedup_batch(b2, idxp, 2, run_id="t")
    assert ids() == got


def test_text_index_records_and_validates_n_buckets(spark, planted_docs, tmp_path):
    """ADVICE r9: the index never recorded the n_buckets it was built
    with, so probing with a different bucket count silently filtered
    postings into the wrong buckets — wrong df/scores, no error. Now
    every append stamps n_buckets into the manifest meta; appends and
    probes (with index=) that disagree raise instead."""
    from hapiy_etl_spark.operators import textindex as TI
    from hapiy_etl_spark.operators.txstore import TxTable

    docs = planted_docs.select("doc_id", "text")
    idx = TxTable(spark, str(tmp_path / "p"))
    p, m = TI.postings_build(docs, n_buckets=4)
    TI.postings_append(idx, None, p, None, n_buckets=4)
    assert TI.recorded_n_buckets(idx) == 4

    # appending with a disagreeing bucket count refuses
    with pytest.raises(ValueError, match="n_buckets=8.*built.*n_buckets=4"):
        TI.postings_append(idx, None, p, None, n_buckets=8)

    # probing with the wrong count (the default 8) refuses too
    reader = lambda bs: idx.read(where_in={"tb": bs})  # noqa: E731
    with pytest.raises(ValueError, match="probing.*n_buckets=8"):
        TI.bm25_probe_index(reader, None, ["hello"], index=idx)
    with pytest.raises(ValueError, match="probing.*n_buckets=8"):
        TI.decontam_probe_index(
            reader, spark.createDataFrame([("a b c",)], "s string"), index=idx
        )

    # the matching count probes fine, and the stamp survives OPTIMIZE
    # (manifest meta lives on the append commits, read newest-first)
    idx.optimize()
    assert TI.recorded_n_buckets(idx) == 4
    got = TI.bm25_probe_index(
        reader, m, ["hello"], n_buckets=4, index=idx
    ).collect()
    assert isinstance(got, list)


def test_curation_funnel_invariants(spark, sf_dir):
    """The batch curation funnel (r11) is structurally consistent:
    stages only shrink (each gate drops, never invents, docs/tokens),
    the splits partition the decontaminated survivors exactly, and the
    eval slice never leaks into the curated corpus (ingest excludes
    doc_id < 50 up front)."""
    from hapiy_etl_spark.queries.text import corpus_curation_funnel

    rows = {
        r["stage"]: (r["n_docs"], r["n_tokens"])
        for r in corpus_curation_funnel(spark, sf_dir).collect()
    }
    order = ["a1_ingest", "a2_quality", "a3_dedup", "a4_decontam"]
    for a, b in zip(order, order[1:]):
        assert rows[a][0] >= rows[b][0] >= 0
        assert rows[a][1] >= rows[b][1] >= 0
    splits = [rows[k] for k in rows if k.startswith("b_")]
    assert sum(s[0] for s in splits) == rows["a4_decontam"][0]
    assert sum(s[1] for s in splits) == rows["a4_decontam"][1]
    # the quality gate demonstrably cuts at every shipped sf; the
    # dedup/decontam stages are only guaranteed non-increasing (the
    # smoke fixture may carry no exact dup or contaminated doc —
    # their DROPPING behavior is pinned by the oracle gate at sf0.01,
    # where both stages shed docs)
    assert rows["a2_quality"][0] < rows["a1_ingest"][0]


def test_survivorship_canonical_is_longest_member(spark, sf_dir):
    """Survivorship election invariants on the real corpus: the canonical
    doc is a member of its own cluster with the cluster-max n_chars
    (lowest doc_id on ties), and merged metadata is consistent."""
    from hapiy_etl_spark.io import load_tables
    from hapiy_etl_spark.queries.text import neardup_clusters
    from hapiy_etl_spark.registry import all_queries

    surv = {
        r.cluster_id: r
        for r in all_queries()["dedup_survivorship"].fn(spark, sf_dir).collect()
    }
    docs = {
        r.doc_id: r.n_chars
        for r in load_tables(spark, sf_dir, ("documents",))["documents"]
        .select("doc_id", "n_chars")
        .collect()
    }
    members: dict[int, list[int]] = {}
    for r in neardup_clusters(spark, sf_dir).collect():
        members.setdefault(r.cluster_id, []).append(r.doc_id)
    assert set(surv) == set(members)
    for cid, row in surv.items():
        mem = members[cid]
        assert row.canonical_doc_id in mem
        best = max(docs[d] for d in mem)
        assert docs[row.canonical_doc_id] == best
        assert row.canonical_doc_id == min(
            d for d in mem if docs[d] == best
        )  # tie-break: lowest id
        assert row.n_members == len(mem) >= 2
        assert row.total_chars == sum(docs[d] for d in mem)
        assert row.sources == ",".join(sorted(row.sources.split(",")))


def test_srp_projection_preserves_norms_in_expectation(spark, sf_dir):
    """JL contract: with a ±1/sqrt(k) sign projection, E[||y||^2] =
    ||e||^2 — the corpus-mean norm ratio must sit near 1, and the
    md5-derived matrix must be deterministic and roughly sign-balanced."""
    from hapiy_etl_spark.functions import srp_matrix
    from hapiy_etl_spark.registry import all_queries

    m = srp_matrix(8, 64)
    assert m == srp_matrix(8, 64)  # deterministic, no RNG
    flat = [v for row in m for v in row]
    assert set(flat) == {1.0, -1.0}
    assert 0.35 < flat.count(1.0) / len(flat) < 0.65  # unbiased-ish hash

    rows = all_queries()["embedding_random_projection"].fn(spark, sf_dir).collect()
    ratios = [r.norm_ratio for r in rows]
    mean = sum(ratios) / len(ratios)
    assert 0.8 < mean < 1.2, mean  # JL unbiasedness at corpus scale


def test_quality_probe_matches_numpy_ridge(spark, sf_dir):
    """The one-pass Cramer solve must agree with an independent dense
    ridge solver (numpy lstsq on the regularized normal equations) on
    the same feature matrix, and the fit must explain real variance."""
    import numpy as np

    from hapiy_etl_spark.io import load_tables
    from hapiy_etl_spark.operators import textstats as TS
    from hapiy_etl_spark.registry import all_queries

    row = all_queries()["quality_linear_probe"].fn(spark, sf_dir).collect()[0]

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    feats = docs.select(
        F.round(TS.avg_token_len("text"), 4).alias("x1"),
        F.round(TS.stopword_ratio("text"), 4).alias("x2"),
        TS.quality_score("text").alias("y"),
    ).collect()
    X = np.array([[1.0, r.x1, r.x2] for r in feats])
    y = np.array([r.y for r in feats])
    A = X.T @ X + np.eye(3)
    c = np.linalg.solve(A, X.T @ y)
    assert abs(row.b_intercept - c[0]) < 1e-4
    assert abs(row.b_toklen - c[1]) < 1e-4
    assert abs(row.b_stopword - c[2]) < 1e-4
    assert 0.0 < row.r2 <= 1.0 and row.rmse > 0.0
    assert row.n_docs == len(feats)


def test_token_budget_plan_conserves_budget(spark, sf_dir):
    """Planner invariants: weights sum to 1, targets exhaust the 2x
    budget (up to per-source floor()), epochs == target/available, and
    shortfall only appears on capped sources."""
    from hapiy_etl_spark.registry import all_queries

    rows = all_queries()["corpus_token_budget_plan"].fn(spark, sf_dir).collect()
    total_avail = sum(r.available_tokens for r in rows)
    budget = 2 * total_avail
    assert abs(sum(r.mix_weight for r in rows) - 1.0) < 1e-4
    tgt = sum(r.target_tokens for r in rows)
    assert budget - len(rows) <= tgt <= budget  # floor() loses < 1/source
    for r in rows:
        assert abs(r.epochs - r.target_tokens / r.available_tokens) < 1e-3
        assert (r.shortfall_tokens > 0) == r.capped or r.shortfall_tokens == 0
        if r.capped:
            assert r.target_tokens - r.shortfall_tokens == 4 * r.available_tokens


def test_quality_probe_calibration_is_monotone(spark, sf_dir):
    """Ranking evidence for the distilled scorer: mean ACTUAL quality
    must rise across predicted quintiles, and the bins must cover the
    corpus with equal-ish mass (percentile cuts)."""
    from hapiy_etl_spark.registry import all_queries

    rows = sorted(
        all_queries()["quality_probe_calibration"].fn(spark, sf_dir).collect(),
        key=lambda r: r.pred_quintile,
    )
    assert [r.pred_quintile for r in rows] == list(range(1, len(rows) + 1))
    actual = [r.avg_actual for r in rows]
    assert all(a < b for a, b in zip(actual, actual[1:])), actual
    n = [r.n_docs for r in rows]
    assert max(n) <= 2 * min(n)  # percentile bins: no degenerate bucket


def test_ann_recall_audit_shape_and_bounds(spark, sf_dir):
    """The recall audit reports the four lossy methods plus the two
    re-ranked arms (r14) against the full expected set, with recalls
    in [0,1], the cell-probing methods (IVF/LSH) well above the random
    floor, and re-ranking NEVER below its raw-ADC floor (it re-orders
    a superset pool)."""
    from hapiy_etl_spark.registry import all_queries

    rows = {r.method: r for r in all_queries()["ann_recall_audit"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"lsh", "ivf", "pq", "ivfpq", "pq_rerank", "ivfpq_rerank"}
    for r in rows.values():
        assert r.n_expected == 30 and 0 <= r.n_matched <= r.n_expected
        assert 0.0 <= r.recall_at_3 <= 1.0
    assert rows["ivf"].recall_at_3 >= 0.3
    assert rows["lsh"].recall_at_3 >= 0.3
    assert rows["pq_rerank"].recall_at_3 >= rows["pq"].recall_at_3
    assert rows["ivfpq_rerank"].recall_at_3 >= rows["ivfpq"].recall_at_3
    # the r14 recall bar (VERDICT r13 item 3): re-ranked arms >= 0.8
    assert rows["pq_rerank"].recall_at_3 >= 0.8
    assert rows["ivfpq_rerank"].recall_at_3 >= 0.8


def test_pack_sequences_invariants(spark, sf_dir):
    """Sequence packing is a gapless chunking of each source shard's
    token stream: within a shard, spans are contiguous (the next doc
    starts in the previous doc's last sequence or the one after),
    every doc spans ceil-consistent sequence counts, and the shard's
    last sequence id equals floor((total_tokens - 1) / ctx)."""
    from hapiy_etl_spark.registry import all_queries

    rows = all_queries()["corpus_pack_sequences"].fn(spark, sf_dir).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert by_src
    for src, docs in by_src.items():
        docs.sort(key=lambda r: r.doc_id)
        total = 0
        prev_last = 0
        for i, r in enumerate(docs):
            assert r.n_tokens >= 1
            assert r.n_seqs == r.last_seq - r.first_seq + 1 >= 1
            assert r.first_seq == total // 2048  # starts where cum sits
            total += r.n_tokens
            assert r.last_seq == (total - 1) // 2048
            if i:
                assert r.first_seq in (prev_last, prev_last + 1)  # gapless
            prev_last = r.last_seq
        assert docs[-1].last_seq == (total - 1) // 2048


def test_pack_bpe_invariants(spark, sf_dir):
    """BPE-grain packing (r15) keeps the split-packing recurrence
    (gapless contiguous spans per shard, ceil-consistent counts) while
    counting LEARNED-vocabulary subwords: with only 6 merges most
    words segment near character grain, so every doc's BPE count is
    >= its whitespace count — packing at the trained grain produces
    at least as many sequences per shard."""
    from hapiy_etl_spark.registry import all_queries

    rows = all_queries()["corpus_pack_bpe"].fn(spark, sf_dir).collect()
    ws = {
        (r.source, r.doc_id): r.n_tokens
        for r in all_queries()["corpus_pack_sequences"].fn(spark, sf_dir).collect()
    }
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert by_src
    for src, docs in by_src.items():
        docs.sort(key=lambda r: r.doc_id)
        total = 0
        prev_last = 0
        for i, r in enumerate(docs):
            assert r.n_bpe_tokens >= ws[(r.source, r.doc_id)]  # finer grain
            assert r.n_seqs == r.last_seq - r.first_seq + 1 >= 1
            assert r.first_seq == total // 2048
            total += r.n_bpe_tokens
            assert r.last_seq == (total - 1) // 2048
            if i:
                assert r.first_seq in (prev_last, prev_last + 1)  # gapless
            prev_last = r.last_seq


def test_pack_greedy_invariants(spark, sf_dir):
    """No-split greedy packing: per shard, bin ids are contiguous from
    0, every non-oversize bin's fill <= ctx, a new bin only starts when
    the previous genuinely could not fit the doc (tightness — greedy
    never wastes a bin), and the no-split bin count is >= the
    concatenate-then-chunk sequence count (splitting is strictly more
    space-efficient)."""
    from hapiy_etl_spark.registry import all_queries

    ctx = 2048
    greedy = all_queries()["corpus_pack_greedy"].fn(spark, sf_dir).collect()
    split = all_queries()["corpus_pack_sequences"].fn(spark, sf_dir).collect()
    by_src: dict = {}
    for r in greedy:
        by_src.setdefault(r.source, []).append(r)
    split_seqs = {}
    for r in split:
        split_seqs[r.source] = max(split_seqs.get(r.source, 0), r.last_seq)
    for src, docs in by_src.items():
        docs.sort(key=lambda r: r.doc_id)
        fills: dict = {}
        for r in docs:
            assert r.oversize == (r.n_tokens > ctx)
            fills[r.bin_id] = fills.get(r.bin_id, 0) + r.n_tokens
        assert sorted(fills) == list(range(len(fills)))  # contiguous
        for b, f in fills.items():
            one_oversize = any(
                r.bin_id == b and r.oversize for r in docs
            )
            assert f <= ctx or one_oversize, (src, b, f)
        # tightness: doc opening bin b+1 did not fit in bin b
        for i in range(1, len(docs)):
            if docs[i].bin_id != docs[i - 1].bin_id:
                prev_fill = sum(
                    r.n_tokens for r in docs[: i] if r.bin_id == docs[i - 1].bin_id
                )
                assert prev_fill + docs[i].n_tokens > ctx
        # no-split can never beat concatenate-then-chunk
        assert len(fills) - 1 >= split_seqs[src] or len(fills) >= 1


def test_containment_catches_what_jaccard_misses(spark):
    """The regime gap dedup_containment exists for: a short doc
    embedded VERBATIM inside a much longer one scores containment 1.0
    (sub -> super) while its Jaccard stays under any useful threshold
    — and containment is properly asymmetric (the long doc is NOT
    contained in the short one)."""
    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(500)]
    short = " ".join(rng.choice(vocab) for _ in range(20))
    long_doc = (
        " ".join(rng.choice(vocab) for _ in range(200))
        + " " + short + " "
        + " ".join(rng.choice(vocab) for _ in range(200))
    )
    other = " ".join(rng.choice(vocab) for _ in range(150))
    docs = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, other)], "doc_id long, text string"
    )
    cont = {
        (r.id_sub, r.id_super): r.containment
        for r in D.containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.6, df_cap=None
        ).collect()
    }
    assert cont.get((1, 2)) == 1.0  # short fully contained in long
    assert (2, 1) not in cont  # asymmetry: long not contained in short
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.0, df_cap=None
        ).collect()
    }
    assert jac[(1, 2)] < 0.1  # symmetric score misses the relationship


def test_containment_survivorship_election_invariant(spark):
    """Containment-aware survivorship (r14): a quote-farm page whose
    text is CONTAINED in a canonical doc (tiny Jaccard — invisible to
    Jaccard-only clustering) collapses into that doc's cluster via the
    union graph, and the election crowns the SUPERSET document (longest
    text wins, doc_id breaks ties). Invariants: the canonical is a
    member of its own cluster with maximal n_chars; Jaccard-only edges
    provably do NOT join the contained doc."""
    rng = random.Random(43)
    vocab = [f"w{i}" for i in range(600)]
    quote = " ".join(rng.choice(vocab) for _ in range(25))
    canon = (
        " ".join(rng.choice(vocab) for _ in range(220))
        + " " + quote + " "
        + " ".join(rng.choice(vocab) for _ in range(220))
    )
    # near-dup of the canonical: high Jaccard (a few token edits)
    near = canon.replace(" w1 ", " q1 ").replace(" w2 ", " q2 ")
    unrelated = " ".join(rng.choice(vocab) for _ in range(150))
    rows = [
        (1, quote, "farm"),
        (2, canon, "origin"),
        (3, near, "mirror"),
        (4, unrelated, "other"),
    ]
    docs = spark.createDataFrame(
        [(i, t, len(t), s) for i, t, s in rows],
        "doc_id long, text string, n_chars long, source string",
    )
    edges = D.union_neardup_edges(
        docs, "doc_id", "text", n=3,
        jaccard_threshold=0.5, containment_threshold=0.6, df_cap=None,
    )
    got = {(r.id_a, r.id_b) for r in edges.collect()}
    assert (1, 2) in got  # the containment edge Jaccard misses
    assert (2, 3) in got  # the ordinary near-dup edge
    assert not any(4 in e for e in got)  # unrelated stays out
    clusters = D.dedup_clusters(edges, rounds=4, checkpoint_every=2)
    labels = {r.doc_id: r.cluster_id for r in clusters.collect()}
    assert labels[1] == labels[2] == labels[3]  # one collapsed cluster
    assert 4 not in labels
    # the election: longest member (the canonical superset) wins
    members = clusters.join(docs, "doc_id")
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("cluster_id").orderBy(
            F.col("n_chars").desc(), F.col("doc_id").asc()
        )
    )
    winners = {
        r.cluster_id: r.doc_id
        for r in members.withColumn("rk", rk).where("rk = 1").collect()
    }
    assert winners[labels[1]] == 2  # the superset doc, not the quote
    # Jaccard-only clustering provably misses the farm page
    j_only = D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5, df_cap=None)
    j_labels = {
        r.doc_id: r.cluster_id
        for r in D.dedup_clusters(j_only, rounds=4, checkpoint_every=2).collect()
    }
    assert 1 not in j_labels and j_labels[2] == j_labels[3]


def test_dedup_clusters_converge_detected_on_long_chain(spark):
    """rounds=None propagates to the fixpoint on a graph whose
    diameter exceeds any fixed round count: an 11-hop path collapses
    to one component under converge mode, while the fixed 3-round
    setting provably cannot reach the far end (the data-dependence
    the r15 change removes)."""
    from pyspark.sql import functions as F

    from hapiy_etl_spark.operators.dedup import dedup_clusters

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    fixed = dedup_clusters(edges, rounds=3)
    assert fixed.where(F.col("cluster_id") != 0).count() > 0
    conv = dedup_clusters(edges, rounds=None).collect()
    assert len(conv) == 12
    assert all(r["cluster_id"] == 0 for r in conv)


def test_band_energy_batched_bit_identical():
    """The r15 batched FFT path (_band_energy_sigs: windows sharing a
    slice width stack into one rfft) must produce BIT-identical
    signatures to the per-window kernel — rows of a batched rfft
    transform independently."""
    import numpy as np

    from hapiy_etl_spark.operators.multimodal import (
        _band_energy_sig,
        _band_energy_sigs,
    )

    rng = np.random.default_rng(7)
    for _ in range(60):
        n = int(rng.integers(1, 4000))
        x = rng.integers(0, 256, size=n).astype(np.float64) - 128.0
        step = max(1, -(-x.size // 8))
        wins = [x[w * step : (w + 1) * step] for w in range(8)]
        assert _band_energy_sigs(wins) == [
            _band_energy_sig(w) for w in wins
        ]


def test_dhash_batched_bit_identical():
    """The r15 batched frame-dHash path (_dhash_from_bytes_batch:
    same-length frames stack into one reduceat along axis=1) must
    hash BIT-identically to the per-frame kernel, including empty
    and sub-grid frames."""
    import numpy as np

    from hapiy_etl_spark.operators.multimodal import (
        _dhash_from_bytes,
        _dhash_from_bytes_batch,
    )

    rng = np.random.default_rng(11)
    for _ in range(60):
        n = int(rng.integers(0, 3000))
        data = bytes(rng.integers(0, 256, size=n, dtype=np.uint8))
        step = max(1, -(-len(data) // 8))
        frames = [data[f * step : (f + 1) * step] for f in range(8)]
        assert _dhash_from_bytes_batch(frames) == [
            _dhash_from_bytes(f) for f in frames
        ]


# Fixed MinHash input: near-duplicate pair, a short doc (< 3 tokens, one
# partial shingle), a NULL text (no signature), a one-token doc, runs of
# whitespace, and a long doc.
_MINHASH_GOLDEN_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy cat again and again"),
    (3, "short doc"),
    (4, None),
    (5, "one"),
    (6, "  spaced   out   words   here   now  "),
    (7, " ".join(f"w{i}" for i in range(50))),
]


def _rows_digest(df) -> str:
    import hashlib

    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


@pytest.mark.parametrize(
    "portable,sig_digest,bp_digest,key_type",
    [
        (True, "df173d24a7fca57d", "c031857f6a8904cb", "string"),
        (False, "69f82263a1411a50", "7ff87e4adc764dee", "bigint"),
    ],
)
def test_minhash_plans_golden_digest(spark, portable, sig_digest, bp_digest, key_type):
    """minhash_signatures and band_postings are built from SQL text;
    their rows and types must stay those of the earlier Column-tree
    form (digests recorded from that form on the same input)."""
    df = spark.createDataFrame(_MINHASH_GOLDEN_ROWS, "doc_id long, text string")
    sigs = D.minhash_signatures(df, "doc_id", "text", 3, 16, portable=portable)
    bp = D.band_postings(sigs, 16, 2, portable, 16)
    assert sigs.schema.simpleString() == "struct<doc:bigint,sig:array<bigint>>"
    assert bp.schema.simpleString() == (
        f"struct<bb:int,band:int,key:{key_type},doc:bigint,sig:array<bigint>>"
    )
    assert [f.nullable for f in bp.schema.fields] == [True, False, False, True, False]
    assert _rows_digest(sigs) == sig_digest
    assert _rows_digest(bp) == bp_digest


@pytest.mark.parametrize("portable", [True, False])
def test_minhash_plan_build_py4j_budget(spark, py4j_round_trips, portable):
    """Building the signature and band-postings plans costs at most 800
    py4j round trips: the hash minima, band keys and band structs are
    SQL text parsed once by Catalyst, not one round trip per Column
    node (the Column-tree form took about 2,500)."""
    df = spark.createDataFrame(_MINHASH_GOLDEN_ROWS, "doc_id long, text string")

    def build():
        sigs = D.minhash_signatures(df, "doc_id", "text", 3, 16, portable=portable)
        D.band_postings(sigs, 16, 2, portable, 16)

    _, calls = py4j_round_trips(build)
    assert 0 < calls <= 800, calls


# -- search-probe equivalence: golden rows recorded from the earlier
# -- plan shapes (cross-join + window cell ranking, groupBy + broadcast
# -- BM25 statistics, distinct-collect decontamination bucket list)

_IVF_CENTROIDS = [
    (0, [1e-05, 0.5, -0.5, 0.25]),  # prints in exponent form
    (1, [-0.5, 0.5, 0.5, -0.25]),
    (2, [0.5, -0.5, 0.5, 0.5]),
    (3, [-0.5, -0.5, -0.5, 0.0]),
]


def _ivf_golden_cases(spark, root) -> dict:
    """Probe outputs for hand-built IVF indexes: 24 corpus vectors over
    4 cells, and 6 queries — two share ids with corpus rows (their
    self-match is excluded), one equals centroid 2 exactly."""
    from hapiy_etl_spark.operators.txstore import TxTable

    vecs = S._hyperplanes(4, 30, seed=7)
    assigned = spark.createDataFrame(
        [(i % 4, i, vecs[i]) for i in range(24)],
        "cell int, vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, vecs[24]), (101, vecs[25]), (102, vecs[26]), (3, vecs[27]),
         (7, vecs[28]), (104, list(_IVF_CENTROIDS[2][1]))],
        "vec_id long, embedding array<double>",
    )
    schema = "cell int, centroid array<double>"
    cent = spark.createDataFrame(_IVF_CENTROIDS, schema)
    nonfinite = spark.createDataFrame(
        [(0, _IVF_CENTROIDS[0][1]), (1, [float("inf"), 0.5, 0.5, -0.25]),
         (2, _IVF_CENTROIDS[2][1]), (3, [float("nan"), -0.5, -0.5, 0.0])],
        schema,
    )
    idx = TxTable(spark, str(root / "ivf_golden"))
    for m in range(2):
        idx.append(assigned.where(F.col("vec_id") % 2 == m), stats_cols=["cell"])
    seen = []

    def reader(cells):
        seen.append(list(cells))
        return idx.read(where_in={"cell": cells})

    def probe(c, a, n_probe, q=queries):
        return sorted(
            map(tuple, S.ivf_probe_index(
                q, c, a, "vec_id", "vec_id", k=3, n_probe=n_probe
            ).collect())
        )

    out = {
        "dataframe": probe(cent, assigned, 2),
        "reader": probe(cent, reader, 2),
        "reader_one_query": probe(cent, reader, 2, queries.where("vec_id = 104")),
        "probe_all": probe(cent, assigned, 4),
        "nonfinite": probe(nonfinite, assigned, 2),
    }
    out["reader_cells"] = seen
    return out


def _bm25_golden_cases(spark, root) -> dict:
    """BM25 and decontamination outputs over a postings index and a
    shingle index grown by three appends (three meta rows)."""
    from hapiy_etl_spark.operators import textindex as TI
    from hapiy_etl_spark.operators.txstore import TxTable

    vocab = [f"w{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [(i, " ".join(vocab[(i * 7 + j * j) % 20] for j in range(4 + i % 7)))
         for i in range(24)],
        "doc_id long, text string",
    )
    idx = TxTable(spark, str(root / "bm25_postings"))
    meta_t = TxTable(spark, str(root / "bm25_meta"))
    sh_idx = TxTable(spark, str(root / "shingles"))
    for m in range(3):
        batch = docs.where(F.col("doc_id") % 3 == m)
        TI.postings_append(idx, meta_t, *TI.postings_build(batch))
        TI.postings_append(sh_idx, None, TI.shingle_postings_build(batch), None)
    # two query terms that share a bucket, one more, one absent term
    by_bucket: dict = {}
    for w in vocab:
        by_bucket.setdefault(TI.term_bucket_py(w), []).append(w)
    pair = next(ws[:2] for ws in by_bucket.values() if len(ws) >= 2)
    other = next(w for w in vocab if TI.term_bucket_py(w) != TI.term_bucket_py(pair[0]))
    terms = [*pair, other, "absent-term"]

    def reader(bs):
        return idx.read(where_in={"tb": bs})

    def bm25(r, ts, k):
        return [tuple(x) for x in TI.bm25_probe_index(
            r, meta_t.read(), ts, k=k, index=idx
        ).collect()]

    bench = docs.where(F.col("doc_id").isin(2, 21)).select(
        F.explode(D.shingles("text", 3)).alias("s")
    ).union(spark.createDataFrame([("not in any doc",), (None,)], "s string"))
    return {
        "terms": terms,
        "reader": bm25(reader, terms, 5),
        "dataframe": bm25(idx.read(), terms, 5),
        "k_over_hits": bm25(reader, terms, 100),
        "absent_only": bm25(reader, ["absent-term"], 5),
        "decontam": [tuple(x) for x in TI.decontam_probe_index(
            lambda bs: sh_idx.read(where_in={"tb": bs}), bench, threshold=0.05, index=sh_idx
        ).collect()],
    }


# recorded from the earlier plan shapes on the inputs above
_IVF_GOLDEN = {
    "dataframe": [
        (3, 0, 1, 0.979403), (3, 8, 2, 0.838061), (3, 21, 3, 0.398086),
        (7, 15, 3, 0.355838), (7, 19, 2, 0.556485), (7, 22, 1, 0.561158),
        (100, 3, 3, 0.400662), (100, 7, 2, 0.423615), (100, 20, 1, 0.583697),
        (101, 0, 3, 0.380926), (101, 16, 1, 0.588606), (101, 17, 2, 0.488941),
        (102, 3, 2, 0.730962), (102, 7, 1, 0.788103), (102, 19, 3, 0.56784),
        (104, 11, 2, 0.604837), (104, 15, 3, 0.499208), (104, 22, 1, 0.809273),
    ],
    "reader": [
        (3, 0, 1, 0.979403), (3, 8, 2, 0.838061), (3, 21, 3, 0.398086),
        (7, 15, 3, 0.355838), (7, 19, 2, 0.556485), (7, 22, 1, 0.561158),
        (100, 3, 3, 0.400662), (100, 7, 2, 0.423615), (100, 20, 1, 0.583697),
        (101, 0, 3, 0.380926), (101, 16, 1, 0.588606), (101, 17, 2, 0.488941),
        (102, 3, 2, 0.730962), (102, 7, 1, 0.788103), (102, 19, 3, 0.56784),
        (104, 11, 2, 0.604837), (104, 15, 3, 0.499208), (104, 22, 1, 0.809273),
    ],
    "reader_one_query": [
        (104, 11, 2, 0.604837), (104, 15, 3, 0.499208), (104, 22, 1, 0.809273),
    ],
    "probe_all": [
        (3, 0, 1, 0.979403), (3, 8, 2, 0.838061), (3, 23, 3, 0.65484),
        (7, 9, 3, 0.797487), (7, 12, 1, 0.884845), (7, 13, 2, 0.812661),
        (100, 1, 2, 0.839077), (100, 9, 1, 0.880953), (100, 17, 3, 0.71156),
        (101, 3, 3, 0.822493), (101, 7, 1, 0.849921), (101, 18, 2, 0.832126),
        (102, 3, 3, 0.730962), (102, 7, 2, 0.788103), (102, 18, 1, 0.884993),
        (104, 11, 2, 0.604837), (104, 21, 3, 0.553726), (104, 22, 1, 0.809273),
    ],
    "nonfinite": [
        (3, 0, 1, 0.979403), (3, 8, 2, 0.838061), (3, 14, 3, 0.137994),
        (7, 4, 3, 0.520712), (7, 12, 1, 0.884845), (7, 22, 2, 0.561158),
        (100, 10, 2, 0.510274), (100, 18, 3, 0.457393), (100, 20, 1, 0.583697),
        (101, 0, 3, 0.380926), (101, 16, 2, 0.588606), (101, 18, 1, 0.832126),
        (102, 6, 2, 0.563395), (102, 16, 3, 0.273494), (102, 18, 1, 0.884993),
        (104, 4, 2, 0.478382), (104, 20, 3, 0.344161), (104, 22, 1, 0.809273),
    ],
    "reader_cells": [[0, 1, 2, 3], [2, 3]],
}

_BM25_GOLDEN = {
    "terms": ["w0", "w1", "w2", "absent-term"],
    "reader": [
        (0, 2, 2.8895), (23, 2, 2.5226), (20, 2, 2.4639), (3, 2, 2.372),
        (11, 2, 2.2384),
    ],
    "dataframe": [
        (0, 2, 2.8895), (23, 2, 2.5226), (20, 2, 2.4639), (3, 2, 2.372),
        (11, 2, 2.2384),
    ],
    "k_over_hits": [
        (0, 2, 2.8895), (23, 2, 2.5226), (20, 2, 2.4639), (3, 2, 2.372),
        (11, 2, 2.2384), (18, 1, 1.5735), (12, 1, 1.5136), (19, 1, 1.5136),
        (13, 1, 1.458), (14, 1, 1.4448), (8, 1, 1.3468), (15, 1, 1.3468),
        (16, 1, 1.2613), (17, 1, 1.186), (5, 1, 1.0595), (6, 1, 1.0059),
    ],
    "absent_only": [],
    "decontam": [
        (2, 4, 1.0), (21, 2, 1.0), (22, 3, 1.0), (1, 2, 0.666667),
    ],
}


def test_ivf_probe_matches_golden_rows(spark, tmp_path):
    """ivf_probe_index ranks cells from inlined centroid literals and
    pins the query x cell rows once; every case returns the rows the
    cross-join + window form returned: a query equal to a centroid,
    self-excluded query ids, both ``assigned`` forms, probe-all, an
    exponent-form component, and NaN / inf components (a NaN distance
    ranks last, as in the window sort). The reader gets the same
    sorted cell lists."""
    assert _ivf_golden_cases(spark, tmp_path) == _IVF_GOLDEN


def test_bm25_and_decontam_probes_match_golden_rows(spark, tmp_path):
    """bm25_probe_index sums the meta rows on the driver and takes df
    from a window; decontam_probe_index pins its bench once. Both
    return the rows of the earlier plans: an absent query term, two
    terms in one bucket, three meta rows, a DataFrame reader, k above
    the hit count, and a bench with a NULL and an unseen shingle."""
    assert _bm25_golden_cases(spark, tmp_path) == _BM25_GOLDEN


def test_search_probes_spark_job_budget(spark, spark_jobs, tmp_path):
    """A BM25 top-10 runs at most 4 Spark jobs and an IVF top-10 at most
    5, on the benchmark's layout (one flat index dir per TxTable, a
    cached meta table and centroid table, an RDD-backed query frame).
    The cross-join + window and groupBy + broadcast forms ran 10 and 7;
    both also paid a parquet schema-inference job per index read."""
    from hapiy_etl_spark.operators import textindex as TI
    from hapiy_etl_spark.operators.txstore import TxTable

    vocab = [f"w{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [(i, " ".join(vocab[(i * 7 + j * j) % 30] for j in range(12))) for i in range(200)],
        "doc_id long, text string",
    )
    idx = TxTable(spark, str(tmp_path / "postings"))
    meta_t = TxTable(spark, str(tmp_path / "meta"))
    TI.postings_append(idx, meta_t, *TI.postings_build(docs), split_buckets=False)
    meta = meta_t.read().cache()
    meta.count()

    vecs = S._hyperplanes(8, 201, seed=11)
    emb = spark.createDataFrame(
        [(i, vecs[i]) for i in range(200)], "vec_id long, embedding array<double>"
    )
    cent, assigned = S.ivf_index_build(emb, "vec_id", n_centroids=4, max_iter=2)
    ivf = TxTable(spark, str(tmp_path / "ivf"))
    ivf.append(assigned, stats_cols=["cell"])
    cent = cent.cache()
    cent.count()

    def bm25():
        return TI.bm25_probe_index(
            lambda bs: idx.read(where_in={"tb": bs}), meta, ["w1", "w4", "w9"],
            k=10, index=idx,
        ).collect()

    def ivf_probe():
        q = spark.createDataFrame([(-1, vecs[200])], "qid long, embedding array<double>")
        return S.ivf_probe_index(
            q, cent, lambda cells: ivf.read(where_in={"cell": cells}), "qid", "vec_id",
            k=10, n_probe=2,
        ).collect()

    for probe, budget in ((bm25, 4), (ivf_probe, 5)):
        probe()  # warm
        rows, jobs = spark_jobs(probe)
        assert len(rows) == 10
        assert jobs <= budget, (probe.__name__, jobs)


def _column_dot(a, b):
    """The Column-API fold the SQL-text helpers replaced."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def test_vector_helpers_sql_text_match_column_fold(spark):
    """dot / l2_norm / cosine / l2sq take column NAMES (backtick-quoted,
    so a name with a space or a dot is one column) and return exactly
    the values of the Column-API fold, NULLs and ragged arrays
    included; a Column argument is a TypeError."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0], [0.5, -1.0, 2.0]),
            (2, [1e-05, 0.1, 0.2], [3.0, 0.7, 1e300]),
            (3, [1.0, 2.0], [1.0, 2.0, 3.0]),
            (4, None, [1.0]),
        ],
        "id int, `my vec` array<double>, `b.c` array<double>",
    )
    a, b = F.col("`my vec`"), F.col("`b.c`")
    d_ab = _column_dot(a, b)
    diff = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    want = df.select(
        "id", d_ab, F.sqrt(_column_dot(a, a)),
        d_ab / (F.sqrt(_column_dot(a, a)) * F.sqrt(_column_dot(b, b))), diff,
    ).collect()
    got = df.select(
        "id", S.dot("my vec", "b.c"), S.l2_norm("my vec"), S.cosine("my vec", "b.c"),
        S.l2sq("my vec", "b.c"),
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    with pytest.raises(TypeError, match="column NAME"):
        S.cosine(F.col("a"), F.col("b"))


def test_cosine_plan_build_py4j_budget(py4j_round_trips):
    """Building ``cosine`` is one parsed SQL expression: at most 20 py4j
    round trips (the F.zip_with lambda form took about 340)."""
    _, calls = py4j_round_trips(lambda: S.cosine("a", "b"))
    assert 0 < calls <= 20, calls


def test_cosine_zero_norm_scores_null_and_ranks_last(spark):
    """Under ANSI mode a zero-norm vector used to raise DIVIDE_BY_ZERO
    and abort the whole top-k; it now scores NULL against everything
    and ranks after every scored neighbor."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8]), (4, [-1.0, 0.1])],
        "id long, embedding array<double>",
    )
    got = dict(
        df.alias("a")
        .crossJoin(df.where("id = 2").selectExpr("embedding AS z"))
        .select("id", S.cosine("embedding", "z"))
        .collect()
    )
    assert got == {1: None, 2: None, 3: None, 4: None}
    top = S.cosine_topk(df, df, "id", "id", k=3).collect()
    ranked = {}
    for r in top:
        ranked.setdefault(r.id, []).append((r.rank, r.neighbor_id, r.cosine_sim))
    assert sorted(ranked[1]) == [(1, 3, 0.6), (2, 4, -0.995037), (3, 2, None)]
    assert [n for _, n, sim in sorted(ranked[2])] == [1, 3, 4]
    assert all(sim is None for _, _, sim in ranked[2])
