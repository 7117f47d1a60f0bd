"""Tests for the round-2 extension operators: multiprobe/hyperplane ANN,
SimHash pairs, cosine near-dup, multimodal plumbing, BFS/motif."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from vmware_graph_spark.analytics.motif import bfs_distances, two_hop_motif
from vmware_graph_spark.operators.dedup import (
    cosine_pairs_exact,
    cosine_pairs_lsh,
    simhash_pairs,
)
from vmware_graph_spark.operators.multimodal import (
    as_media,
    decode_media,
    fingerprint_features,
    frame_sample,
)
from vmware_graph_spark.operators.similarity import cosine_topk, hyperplane_topk, ivf_topk


def _clustered_vectors(n_clusters=20, per_cluster=10, dim=16, seed=3):
    """Deterministic clustered vectors: base per cluster + tiny jitter —
    intra-cluster cosine ≈ 1, inter ≈ random."""
    import numpy as np

    rng = np.random.RandomState(seed)
    rows = []
    vid = 0
    for c in range(n_clusters):
        base = rng.randn(dim)
        base /= np.linalg.norm(base)
        for j in range(per_cluster):
            v = base + 0.05 * rng.randn(dim)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return rows


@pytest.fixture(scope="module")
def clustered(spark):
    return spark.createDataFrame(
        _clustered_vectors(), "vec_id int, cluster int, embedding array<double>"
    )


def test_hyperplane_topk_recall(clustered):
    """Recall ≥ 0.9 vs exact top-k on clustered data (VERDICT item 10)."""
    q = clustered.filter(F.col("vec_id") % 10 == 0)  # one query per cluster
    exact = cosine_topk(q, clustered, id_col="vec_id", vec_col="embedding", k=5)
    ann = hyperplane_topk(
        q, clustered, id_col="vec_id", vec_col="embedding", dim=16, k=5, planes=6, nprobe=7
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, recall


def test_hyperplane_bucket_balance(clustered):
    """±1 hyperplanes must not funnel most vectors into one bucket (the
    r1 sign-of-first-dims skew failure). Names resolve as in ``F.col``:
    a dotted name selects a struct field."""
    from vmware_graph_spark.operators.similarity import hyperplane_bucket

    nested = clustered.select(F.struct(F.col("embedding").alias("vec")).alias("embed"))
    for df, name in ((clustered, "embedding"), (nested, "embed.vec")):
        counts = (
            df.select(hyperplane_bucket(name, 16, 6).alias("b"))
            .groupBy("b")
            .count()
            .collect()
        )
        assert max(c["count"] for c in counts) <= 0.25 * 200


def test_ivf_multiprobe_recall_improves(clustered):
    q = clustered.filter(F.col("vec_id") % 10 == 0)
    exact = cosine_topk(q, clustered, id_col="vec_id", vec_col="embedding", k=5)
    one = ivf_topk(q, clustered, id_col="vec_id", vec_col="embedding", k=5, bucket_dims=4, nprobe=1)
    multi = ivf_topk(q, clustered, id_col="vec_id", vec_col="embedding", k=5, bucket_dims=4, nprobe=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    r1 = len(e & {(r.query_id, r.neighbor_id) for r in one.collect()}) / len(e)
    r5 = len(e & {(r.query_id, r.neighbor_id) for r in multi.collect()}) / len(e)
    assert r5 >= r1
    assert r5 >= 0.75


def test_cosine_pairs_lsh_matches_exact_on_near_dups(clustered):
    exact = {
        (r.id_a, r.id_b) for r in cosine_pairs_exact(clustered, "vec_id", "embedding", threshold=0.98).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_lsh(
            clustered, "vec_id", "embedding", dim=16, threshold=0.98, planes=6, nprobe=7
        ).collect()
    }
    assert lsh <= exact  # no false positives (exact verification)
    assert len(lsh & exact) / max(len(exact), 1) >= 0.9  # high recall


def test_simhash_pairs_pigeonhole(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy cat tonight"),
            (3, "completely unrelated text about database engines and joins"),
        ],
        ["id", "text"],
    )
    out = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs, "id", "text", max_hamming=10, pieces=12).collect()}
    assert (1, 2) in out
    assert (1, 3) not in out and (2, 3) not in out
    with pytest.raises(ValueError):
        simhash_pairs(docs, "id", "text", max_hamming=4, pieces=4)


def test_multimodal_fingerprint_features(spark):
    docs = spark.createDataFrame([(1, "hello world"), (2, "spark engine")], ["doc_id", "text"])
    media = as_media(docs, "doc_id", F.col("text").cast("binary"))
    out = {r.asset_id: r for r in fingerprint_features(media).collect()}
    want = hashlib.md5(b"hello world").hexdigest()
    assert out[1].media_md5 == want
    assert out[1].features[0] == int(want[:8], 16) / float(1 << 32)
    assert len(out[1].features) == 4


def test_multimodal_decode_stub_raises(spark):
    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    media = as_media(docs, "doc_id", F.col("text").cast("binary"))
    with pytest.raises(NotImplementedError):
        decode_media(media)


def test_frame_sample_grid(spark):
    docs = spark.createDataFrame([(1, "v")], ["doc_id", "text"])
    media = as_media(docs, "doc_id", F.col("text").cast("binary"), media_type="video/mp4")
    media = media.withColumn(
        "meta",
        F.struct(F.lit(None).cast("int").alias("width"), F.lit(None).cast("int").alias("height"),
                 F.lit(2500).alias("duration_ms")),
    )
    frames = sorted(r.frame_ts_ms for r in frame_sample(media, every_ms=1000).collect())
    assert frames == [0, 1000, 2000]


def test_bfs_and_motif(spark):
    edges = spark.createDataFrame(
        [("r", "A", "n1"), ("r", "A", "n2"), ("n1", "B", "c1"), ("n2", "B", "c2"), ("c2", "B", "d1")],
        ["src_key_", "rel", "dst_key_"],
    ).select(
        F.lit("L").alias("src_label"), F.col("src_key_").alias("src_key"),
        F.col("rel").alias("rel_type"), F.lit("L").alias("dst_label"),
        F.col("dst_key_").alias("dst_key"),
    )
    motif = {(r.a, r.b, r.c) for r in two_hop_motif(edges, "A", "B").collect()}
    assert motif == {("r", "n1", "c1"), ("r", "n2", "c2")}

    v = spark.createDataFrame([(x,) for x in ["r", "n1", "n2", "c1", "c2", "d1", "iso"]], ["id"])
    e = edges.select(F.col("src_key").alias("src"), F.col("dst_key").alias("dst"))
    src = spark.createDataFrame([("r",)], ["id"])
    dist = {r.id: r.dist for r in bfs_distances(v, e, src).collect()}
    assert dist == {"r": 0, "n1": 1, "n2": 1, "c1": 2, "c2": 2, "d1": 3}


def test_extract_frames_partitions_bytes(spark):
    from vmware_graph_spark.operators.multimodal import as_media, extract_frames

    df = spark.createDataFrame([(1, "abcdefghij"), (2, "xy")], ["doc_id", "text"])
    media = as_media(df, "doc_id", F.col("text").cast("binary"))
    rows = extract_frames(media, n_frames=4).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    # slices tile the payload exactly: lengths sum to total, 4 per asset
    assert len(by_asset[1]) == 4 and sum(r.frame_len for r in by_asset[1]) == 10
    assert len(by_asset[2]) == 4 and sum(r.frame_len for r in by_asset[2]) == 2
    import hashlib
    first = next(r for r in by_asset[1] if r.frame_idx == 0)
    assert first.frame_md5 == hashlib.md5(b"ab").hexdigest()


def test_resize_media_deterministic(spark):
    from vmware_graph_spark.operators.multimodal import as_media, resize_media

    df = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
    media = as_media(df, "doc_id", F.col("text").cast("binary"))
    r = resize_media(media, width=64, height=48).collect()[0]
    import hashlib
    assert (r.width, r.height) == (64, 48)
    assert r.thumb_md5 == hashlib.md5(b"hello|64x48").hexdigest()


def test_shortest_paths_multi_landmark(spark):
    from vmware_graph_spark.analytics.motif import shortest_paths

    # Two landmarks sharing part of a path; 'iso' unreachable.
    v = spark.createDataFrame([(x,) for x in ["a", "b", "c", "d", "iso"]], ["id"])
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "c"), ("c", "a")], ["src", "dst"]
    )
    lm = spark.createDataFrame([("a",), ("d",)], ["id"])
    got = {
        (r.id, r.landmark): r.dist
        for r in shortest_paths(v, e, lm, max_hops=5, directed=True).collect()
    }
    assert got == {
        ("a", "a"): 0, ("b", "a"): 1, ("c", "a"): 2,
        ("d", "d"): 0, ("c", "d"): 1, ("a", "d"): 2, ("b", "d"): 3,
    }
    # undirected: every vertex except iso reaches both landmarks
    und = shortest_paths(v, e, lm, max_hops=5, directed=False)
    assert und.filter(F.col("id") == "iso").count() == 0
    assert und.count() == 8


def test_audio_windows_hop_arithmetic(spark):
    import hashlib

    from vmware_graph_spark.operators.multimodal import as_media, audio_windows

    df = spark.createDataFrame([(1, "x" * 300), (2, "")], ["doc_id", "text"])
    media = as_media(df, "doc_id", F.col("text").cast("binary"))
    rows = audio_windows(media, window_bytes=256, hop_bytes=128).collect()
    by = {}
    for r in rows:
        by.setdefault(r.asset_id, []).append(r)
    # 300 bytes, hop 128 → windows at 0 (len 256), 128 (len 172), 256 (len 44)
    w1 = sorted(by[1], key=lambda r: r.win_idx)
    assert [(r.start_byte, r.win_len) for r in w1] == [(0, 256), (128, 172), (256, 44)]
    want = int.from_bytes(hashlib.md5(b"x" * 256).digest()[:4], "big") / 4294967296.0
    assert abs(w1[0].energy - want) < 1e-12
    # empty payload still yields exactly one empty window row
    assert [(r.start_byte, r.win_len) for r in by[2]] == [(0, 0)]


def test_truncate_normalize_unit_norm_and_rank_preserving(spark):
    """Truncated+renormalized vectors are unit-L2, and their dot
    products equal the cosine of the raw sliced vectors (cosine is
    scale-invariant, so renorm must not change neighbor order)."""
    from pyspark.sql import functions as F

    from vmware_graph_spark.functions.vector import cosine, dot
    from vmware_graph_spark.operators.similarity import truncate_normalize

    df = spark.createDataFrame(
        [(1, [3.0, 4.0, 100.0]), (2, [6.0, 8.0, -50.0]), (3, [-4.0, 3.0, 0.0])],
        ["id", "vec"],
    )
    t = truncate_normalize(df, "vec", 2, out_col="tv")
    norms = [
        r["n"]
        for r in t.select(
            F.aggregate("tv", F.lit(0.0), lambda a, x: a + x * x).alias("n")
        ).collect()
    ]
    assert all(abs(n - 1.0) < 1e-12 for n in norms)
    a = t.filter(F.col("id") == 1).select(F.col("tv").alias("ta")).crossJoin(
        t.filter(F.col("id") == 2).select(F.col("tv").alias("tb"))
    )
    got = a.select(dot(F.col("ta"), F.col("tb")).alias("d")).collect()[0]["d"]
    raw = df.filter(F.col("id") == 1).select(
        F.slice("vec", 1, 2).alias("ra")
    ).crossJoin(df.filter(F.col("id") == 2).select(F.slice("vec", 1, 2).alias("rb")))
    want = raw.select(cosine(F.col("ra"), F.col("rb")).alias("c")).collect()[0]["c"]
    assert abs(got - want) < 1e-9


def test_rrf_fusion_prefers_doubly_ranked_neighbors(spark):
    """A neighbor present in both rankings outscores one ranked equally
    high in only one list: 1/(60+1) alone < 1/(60+2) + 1/(60+2)."""
    from pyspark.sql import functions as F

    ranks = {"a": (1, None), "b": (2, 2)}
    rows = [
        ("q", n, ra, rb) for n, (ra, rb) in ranks.items()
    ]
    df = spark.createDataFrame(rows, ["query_id", "neighbor_id", "rnk_a", "rnk_b"])
    fused = df.select(
        "neighbor_id",
        (
            F.coalesce(1.0 / (F.col("rnk_a") + 60), F.lit(0.0))
            + F.coalesce(1.0 / (F.col("rnk_b") + 60), F.lit(0.0))
        ).alias("rrf"),
    ).collect()
    got = {r["neighbor_id"]: r["rrf"] for r in fused}
    assert got["b"] > got["a"]


def test_media_near_dup_radius_and_pigeonhole(spark):
    """Banded-Hamming media dedup with an injected hash column: pairs
    inside the radius are found (whatever band their differing bits
    fall in), pairs outside are excluded, exact dups at distance 0."""
    from pyspark.sql import functions as F

    from vmware_graph_spark.operators.multimodal import media_near_dup

    base = 0b101010101010101010101010101010101010101010101010101010101010
    rows = [
        (1, base),
        (2, base),                      # distance 0
        (3, base ^ 0b111),              # distance 3, all in band 0
        (4, base ^ (0b101 << 29)),      # distance 2, straddles bands 2/3
        (5, base ^ ((1 << 59) | (1 << 30) | (1 << 29) | (1 << 12) | (1 << 3) | (1 << 45) | 1)),  # distance 7 > radius
    ]
    df = spark.createDataFrame(rows, ["asset_id", "h"]).withColumn(
        "media", F.lit(b"")
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in media_near_dup(df, max_hamming=5, bits=60, hash_col="h").collect()
    }
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 3
    assert got[(1, 4)] == 2
    assert got[(2, 3)] == 3
    assert all(5 not in pair for pair in got)  # distance-7 asset never pairs
