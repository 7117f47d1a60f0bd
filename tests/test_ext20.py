"""Unit tests for the round-4 continuation operators: language
mismatch audit, JSD mixture drift, cluster-size histogram, novelty."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_lang_mismatch_rates_consistent(spark):
    from vmware_graph_spark.queries_ext20 import lang_mismatch_audit_by_source

    out = lang_mismatch_audit_by_source(spark, SF).collect()
    assert out  # every source appears
    for r in out:
        assert 0 <= r.n_mismatch <= r.n_docs
        assert abs(r.mismatch_rate - round(r.n_mismatch / r.n_docs, 6)) < 1e-12


def test_jsd_extremes_disjoint_and_identical(spark, tmp_path):
    """Disjoint vocabularies → 1 bit; identical distributions → 0."""
    docs = spark.createDataFrame(
        [
            (1, "aa bb cc aa bb cc", "s1"),
            (2, "xx yy zz xx yy zz", "s2"),
        ],
        "doc_id bigint, text string, source string",
    )
    sf = str(tmp_path / "sf1")
    os.makedirs(sf)
    docs.write.parquet(f"{sf}/documents.parquet")
    from vmware_graph_spark.queries_ext20 import jsd_mixture_drift_by_source

    out = {r.source: r.jsd for r in jsd_mixture_drift_by_source(spark, sf).collect()}
    assert out == {"s1": 1.0, "s2": 1.0}

    same = spark.createDataFrame(
        [(1, "aa bb cc", "s1"), (2, "aa bb cc", "s2")],
        "doc_id bigint, text string, source string",
    )
    sf2 = str(tmp_path / "sf2")
    os.makedirs(sf2)
    same.write.parquet(f"{sf2}/documents.parquet")
    out2 = {r.source: r.jsd for r in jsd_mixture_drift_by_source(spark, sf2).collect()}
    assert out2 == {"s1": 0.0, "s2": 0.0}


def test_cluster_size_histogram_conserves_totals(spark):
    from vmware_graph_spark.analytics.algos import connected_components
    from vmware_graph_spark.operators.dedup import minhash_lsh_pairs
    from vmware_graph_spark.queries_ext20 import dedup_cluster_size_histogram
    from vmware_graph_spark.sources.tables import load_table

    out = dedup_cluster_size_histogram(spark, SF).collect()
    d = load_table(spark, SF, "documents")
    n_docs = d.count()
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, bands=4, verify_threshold=0.4
    )
    n_clusters = (
        connected_components(
            d.select(F.col("doc_id").alias("id")),
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        )
        .select("component")
        .distinct()
        .count()
    )
    assert sum(r.n_docs for r in out) == n_docs
    assert sum(r.n_clusters for r in out) == n_clusters
    assert {r.size_bin for r in out} <= {1, 2, 4, 8, 16}


def test_novelty_first_doc_is_fully_novel_and_bounded(spark):
    from vmware_graph_spark.queries_ext20 import ngram_novelty_by_doc
    from vmware_graph_spark.sources.tables import load_table

    out = {r.doc_id: r for r in ngram_novelty_by_doc(spark, SF).collect()}
    first_id = min(out)
    assert out[first_id].novelty == 1.0  # nothing earlier to repeat
    d = load_table(spark, SF, "documents")
    # docs with >= 2 tokens have >= 1 trigram... (3+ tokens); coverage:
    for r in out.values():
        assert 1 <= r.n_novel or r.n_novel == 0
        assert 0.0 <= r.novelty <= 1.0
        assert r.n_novel <= r.n_grams


def _ppm(w, h, rgb_rows):
    """rgb_rows: list of rows; each row a list of (r,g,b) tuples."""
    px = bytearray()
    for row in rgb_rows:
        for r, g, b in row:
            px += bytes((r, g, b))
    return b"P6\n# a comment\n%d %d\n255\n" % (w, h) + bytes(px)


def _bmp24(w, h, bgr_rows_bottom_up, *, top_down=False):
    """Uncompressed 24-bit BMP; rows padded to 4 bytes."""
    import struct

    stride = (w * 3 + 3) & ~3
    px = bytearray()
    for row in bgr_rows_bottom_up:
        raw = bytearray()
        for b, g, r in row:
            raw += bytes((b, g, r))
        raw += b"\x00" * (stride - len(raw))
        px += raw
    hdr_h = -h if top_down else h
    dib = struct.pack("<IiiHHIIiiII", 40, w, hdr_h, 1, 24, 0, len(px), 2835, 2835, 0, 0)
    off = 14 + 40
    head = b"BM" + struct.pack("<IHHI", off + len(px), 0, 0, off)
    return head + dib + bytes(px)


def test_decode_image_stdlib_ppm_and_bmp():
    from vmware_graph_spark.operators.multimodal import decode_image_stdlib

    d = decode_image_stdlib(
        _ppm(2, 2, [[(10, 20, 30), (20, 30, 40)], [(30, 40, 50), (40, 50, 60)]]),
        "image/x-portable-pixmap",
    )
    assert (d.width, d.height) == (2, 2)
    assert (d.mean_r, d.mean_g, d.mean_b) == (25.0, 35.0, 45.0)

    # width 3 forces row padding; BGR on disk must come back as RGB
    rows = [[(1, 2, 3), (1, 2, 3), (1, 2, 3)], [(5, 6, 7), (5, 6, 7), (5, 6, 7)]]
    d2 = decode_image_stdlib(_bmp24(3, 2, rows), "image/bmp")
    assert (d2.width, d2.height) == (3, 2)
    assert (d2.mean_r, d2.mean_g, d2.mean_b) == (5.0, 4.0, 3.0)
    # top-down (negative height) decodes to the same means
    d3 = decode_image_stdlib(_bmp24(3, 2, rows, top_down=True), "image/bmp")
    assert (d3.mean_r, d3.mean_g, d3.mean_b) == (5.0, 4.0, 3.0)


def test_decode_image_stdlib_rejects_bad_payloads():
    import pytest

    from vmware_graph_spark.operators.multimodal import decode_image_stdlib

    with pytest.raises(ValueError):
        decode_image_stdlib(b"P6\n2 2\n255\nxx", "image/x-portable-pixmap")  # truncated
    with pytest.raises(NotImplementedError):
        decode_image_stdlib(b"\x89PNG....", "image/png")  # needs a real codec


def test_decode_images_mapinpandas_roundtrip(spark):
    from vmware_graph_spark.operators.multimodal import as_media, decode_images

    payload = _ppm(2, 1, [[(0, 100, 200), (2, 102, 202)]])
    df = spark.createDataFrame([(1, bytearray(payload))], "id bigint, raw binary")
    out = decode_images(as_media(df, "id", "raw", "image/x-portable-pixmap")).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.width, r.height) == (2, 1)
    assert (r.mean_r, r.mean_g, r.mean_b) == (1.0, 101.0, 201.0)


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_decode_image_auto_routes_ppm_to_stdlib():
    """PPM/BMP always take the deterministic stdlib path, Pillow or not."""
    from vmware_graph_spark.operators.multimodal import decode_image_auto

    d = decode_image_auto(
        _ppm(2, 2, [[(10, 20, 30), (20, 30, 40)], [(30, 40, 50), (40, 50, 60)]]),
        "image/x-portable-pixmap",
    )
    assert (d.width, d.height, d.mean_r) == (2, 2, 25.0)


def test_decode_image_auto_contract_without_pillow():
    """Where Pillow is absent, the auto decoder must be the documented
    NotImplementedError injection gate for codec formats — never a
    silent wrong answer."""
    import pytest

    if _pil_available():
        pytest.skip("Pillow installed: the gated test covers this env")
    from vmware_graph_spark.operators.multimodal import (
        decode_image_auto,
        pillow_image_decoder,
    )

    with pytest.raises(ImportError):
        pillow_image_decoder()
    with pytest.raises(NotImplementedError):
        decode_image_auto(b"\xff\xd8\xff\xe0fakejpeg", "image/jpeg")


def test_decode_images_with_pillow_when_present(spark):
    """The if-present arm (mirrors workbook's openpyxl pattern): when
    Pillow exists, a real PNG decodes through the SAME mapInPandas
    plumbing with the injected codec."""
    import pytest

    if not _pil_available():
        pytest.skip("Pillow not installed: the contract test covers this env")
    import io as _io

    from PIL import Image

    from vmware_graph_spark.operators.multimodal import (
        as_media,
        decode_image_auto,
        decode_images,
    )

    img = Image.new("RGB", (4, 2), (10, 20, 30))
    buf = _io.BytesIO()
    img.save(buf, format="PNG")
    df = spark.createDataFrame([(1, bytearray(buf.getvalue()))], "id bigint, raw binary")
    out = decode_images(
        as_media(df, "id", "raw", "image/png"), decoder=decode_image_auto
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.width, r.height) == (4, 2)
    assert (round(r.mean_r), round(r.mean_g), round(r.mean_b)) == (10, 20, 30)


def test_decode_images_injected_fake_codec(spark):
    """The injection seam itself, independent of any library: a caller-
    supplied decoder flows through decode_images verbatim."""
    from vmware_graph_spark.operators.multimodal import as_media, decode_images

    class _Fake:
        width, height = 7, 9
        mean_r, mean_g, mean_b = 1.0, 2.0, 3.0

    df = spark.createDataFrame([(5, bytearray(b"opaque"))], "id bigint, raw binary")
    out = decode_images(
        as_media(df, "id", "raw", "video/mp4"), decoder=lambda b, t: _Fake()
    ).collect()
    assert [(r.asset_id, r.width, r.height, r.mean_b) for r in out] == [(5, 7, 9, 3.0)]


def test_decode_audio_stdlib_wav_roundtrip_and_rejects():
    import io
    import struct
    import wave as wave_mod

    import pytest

    from vmware_graph_spark.operators.multimodal import decode_audio_stdlib

    samples = [0, 1000, -1000, 32767, -32768, 5]
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(struct.pack("<6h", *samples))
    d = decode_audio_stdlib(buf.getvalue(), "audio/wav")
    assert (d.channels, d.sample_rate, d.n_samples) == (1, 8000, 6)
    assert list(d.samples) == samples
    assert d.duration_ms == 6 * 1000 // 8000

    with pytest.raises(NotImplementedError):
        decode_audio_stdlib(b"ID3\x04...", "audio/mpeg")  # needs a real codec

    # 8-bit PCM: parseable container, unsupported width
    buf8 = io.BytesIO()
    with wave_mod.open(buf8, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(8000)
        wf.writeframes(b"\x00\x7f\xff")
    with pytest.raises(ValueError):
        decode_audio_stdlib(buf8.getvalue(), "audio/wav")


def test_audio_rms_windows_hop_and_values(spark):
    import io
    import math
    import struct
    import wave as wave_mod

    from vmware_graph_spark.operators.multimodal import as_media, audio_rms_windows

    samples = list(range(40))  # 0..39 → windows at 0,16,32 with len 32,24,8
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(struct.pack("<40h", *samples))
    df = spark.createDataFrame([(7, bytearray(buf.getvalue()))], "id bigint, raw binary")
    out = sorted(
        audio_rms_windows(as_media(df, "id", "raw", "audio/wav")).collect(),
        key=lambda r: r.win_idx,
    )
    assert [(r.start, r.n) for r in out] == [(0, 32), (16, 24), (32, 8)]
    for r in out:
        win = samples[r.start : r.start + 32]
        assert r.rms == math.sqrt(sum(v * v for v in win) / len(win))


def test_dedup_index_roundtrip_matches_inflight(spark, tmp_path):
    """Index-backed decisions must equal the in-flight dedup_against
    row-for-row, and extending the index with kept docs must flag a
    re-arrival of those docs as duplicates."""
    from vmware_graph_spark.operators.dedup import (
        dedup_against,
        dedup_against_index,
        write_dedup_index,
    )
    from vmware_graph_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    new = d.filter(F.col("doc_id") % 5 == 0)
    ref = d.filter(F.col("doc_id") % 5 != 0)
    idx = str(tmp_path / "idx")
    write_dedup_index(ref, idx, "doc_id", "text")
    got = sorted(
        map(tuple, dedup_against_index(new, spark, idx, "doc_id", "text").collect())
    )
    exp = sorted(map(tuple, dedup_against(new, ref, "doc_id", "text").collect()))
    assert got == exp

    # a re-arrival of a ref doc is an exact dup via the index alone
    rearrival = ref.limit(3)
    again = dedup_against_index(rearrival, spark, idx, "doc_id", "text").collect()
    assert all(r.exact_dup for r in again)


def test_extend_dedup_index_equals_rebuilt_index(spark, tmp_path):
    """Index built from A then extended with B must give the same
    decisions as an index built from A∪B, and the kept survivors of a
    batch, once appended, flag their own re-arrival."""
    from vmware_graph_spark.operators.dedup import (
        dedup_against_index,
        extend_dedup_index,
        write_dedup_index,
    )
    from vmware_graph_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    part_a = d.filter(F.col("doc_id") % 3 == 0)
    part_b = d.filter(F.col("doc_id") % 3 == 1)
    probe = d.filter(F.col("doc_id") % 3 == 2).limit(40)

    grown = str(tmp_path / "grown")
    write_dedup_index(part_a, grown, "doc_id", "text")
    extend_dedup_index(part_b, grown, "doc_id", "text")
    rebuilt = str(tmp_path / "rebuilt")
    write_dedup_index(part_a.unionByName(part_b), rebuilt, "doc_id", "text")

    got = sorted(map(tuple, dedup_against_index(probe, spark, grown, "doc_id", "text").collect()))
    exp = sorted(map(tuple, dedup_against_index(probe, spark, rebuilt, "doc_id", "text").collect()))
    assert got == exp

    rearrival = part_b.limit(3)
    again = dedup_against_index(rearrival, spark, grown, "doc_id", "text").collect()
    assert all(r.exact_dup for r in again)


def test_weighted_sssp_prefers_cheap_detour_and_raises_on_neg_cycle(spark):
    import pytest

    from vmware_graph_spark.analytics.algos import weighted_sssp

    # s→t direct costs 10; s→a→b→t costs 3
    edges = spark.createDataFrame(
        [("s", "t", 10), ("s", "a", 1), ("a", "b", 1), ("b", "t", 1)],
        "src string, dst string, w int",
    )
    src = spark.createDataFrame([("s", "s")], "id string, landmark string")
    got = {r.id: r.dist for r in weighted_sssp(edges, src).collect()}
    assert got == {"s": 0, "a": 1, "b": 2, "t": 3}

    neg = spark.createDataFrame(
        [("s", "a", 1), ("a", "b", -2), ("b", "a", 1)],
        "src string, dst string, w int",
    )
    with pytest.raises(RuntimeError):
        weighted_sssp(neg, src, max_iters=10)


def test_crash_retried_index_tolerated_and_compacted(spark, tmp_path):
    """A crash-retried extend leaves duplicated rows in the index
    tables; decisions must be unaffected (fingerprints distinct-ed,
    buckets collapse in candidate distinct, shingles in countDistinct,
    sizes deduped at read), and compact_dedup_index must shrink the
    tables back to canonical WITHOUT changing any decision."""
    from vmware_graph_spark.operators.dedup import (
        INDEX_TABLES,
        compact_dedup_index,
        dedup_against_index,
        write_dedup_index,
    )
    from vmware_graph_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    ref = d.filter(F.col("doc_id") % 3 != 2)
    probe = d.filter(F.col("doc_id") % 3 == 2).limit(40)

    clean = str(tmp_path / "clean")
    dirty = str(tmp_path / "dirty")
    write_dedup_index(ref, clean, "doc_id", "text")
    write_dedup_index(ref, dirty, "doc_id", "text")
    # manufacture the crash-retry residue: every table double-appended
    # (superset of any real partial-write state)
    for t in INDEX_TABLES:
        dup = spark.read.parquet(f"{dirty}/{t}.parquet").localCheckpoint(eager=True)
        dup.write.mode("append").parquet(f"{dirty}/{t}.parquet")

    exp = sorted(map(tuple, dedup_against_index(probe, spark, clean, "doc_id", "text").collect()))
    got_dirty = sorted(map(tuple, dedup_against_index(probe, spark, dirty, "doc_id", "text").collect()))
    assert got_dirty == exp  # duplicated index rows never change a decision

    before = {t: spark.read.parquet(f"{dirty}/{t}.parquet").count() for t in INDEX_TABLES}
    compact_dedup_index(spark, dirty)
    after = {t: spark.read.parquet(f"{dirty}/{t}.parquet").count() for t in INDEX_TABLES}
    clean_counts = {t: spark.read.parquet(f"{clean}/{t}.parquet").count() for t in INDEX_TABLES}
    assert all(after[t] < before[t] for t in INDEX_TABLES)
    assert after == clean_counts  # canonical form == fresh build

    got_compacted = sorted(map(tuple, dedup_against_index(probe, spark, dirty, "doc_id", "text").collect()))
    assert got_compacted == exp


def test_extend_dedup_index_raises_on_corrupt_sizes(spark, tmp_path):
    """A broken sizes table must PROPAGATE, not silently disable the
    committed-id anti-join (a swallowed error meant double-appends)."""
    import os

    import pytest

    from vmware_graph_spark.operators.dedup import extend_dedup_index, write_dedup_index
    from vmware_graph_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    write_dedup_index(d.filter(F.col("doc_id") % 3 == 0), idx, "doc_id", "text")
    # corrupt the sizes table: garbage bytes where parquet footers go
    sdir = f"{idx}/sizes.parquet"
    for f in os.listdir(sdir):
        if f.startswith("part-"):
            with open(os.path.join(sdir, f), "wb") as fh:
                fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        extend_dedup_index(d.filter(F.col("doc_id") % 3 == 1), idx, "doc_id", "text")


def test_dedup_persisted_index_registry_query_end_to_end(spark):
    """Registry-level guard for the other artifact-producing query
    (round-5 VERDICT: the kernels are tested, the registry plumbing is
    where the r5 regression lived): invoke the REGISTRY entry twice,
    assert decisions are stable and the second call reuses the cached
    index instead of rebuilding."""
    import os

    from vmware_graph_spark.queries import QUERIES
    from vmware_graph_spark.tmpcache import cache_dir, data_key

    rows1 = QUERIES["dedup_against_persisted_index"](spark, SF).collect()
    assert len(rows1) > 0

    idx = os.path.join(cache_dir("dedup_index", data_key(SF, "documents")), "index")
    marker = os.path.join(idx, "format.json")
    assert os.path.exists(marker)
    mtime = os.path.getmtime(marker)

    rows2 = QUERIES["dedup_against_persisted_index"](spark, SF).collect()
    assert sorted(map(tuple, rows2)) == sorted(map(tuple, rows1))
    assert os.path.getmtime(marker) == mtime  # cache hit, no rebuild
    # every decision row is consistent: kept == not(exact) and not(near)
    for r in rows1:
        assert r.kept == int(not r.exact_dup and not r.near_dup)


def test_cc_star_local_finish_matches_pure_dataflow(spark):
    """The driver-side union-find finish (bounded collect) must label
    exactly like the pure large-star/small-star fixpoint — and the
    dataflow path stays exercised by forcing local_finish_edges=0."""
    from vmware_graph_spark.analytics.algos import connected_components

    # chain + triangle + isolated vertices, string ids
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "z"), ("z", "x")],
        "src string, dst string",
    )
    vertices = spark.createDataFrame(
        [(v,) for v in "abcdxyzqr"], "id string"
    )
    local = {
        (r.id, r.component)
        for r in connected_components(vertices, edges).collect()
    }
    dataflow = {
        (r.id, r.component)
        for r in connected_components(
            vertices, edges, local_finish_edges=0
        ).collect()
    }
    assert local == dataflow
    assert ("q", "q") in local and ("r", "r") in local  # singletons
    assert {c for i, c in local if i in "abcd"} == {"a"}
    assert {c for i, c in local if i in "xyz"} == {"x"}


def test_lm_bigram_neglogprob_hand_model(spark):
    """Hand-checkable add-one bigram model: ref vocab {a,b}, V=2,
    c(a)=2, c(b)=2, c('a b')=2, c('b a')=1."""
    import math

    from vmware_graph_spark.operators.quality import lm_bigram_neglogprob

    ref = spark.createDataFrame([(1, "a b a b")], "id long, text string")
    docs = spark.createDataFrame(
        [
            (10, "a b"),        # one bigram: p(a b)=(2+1)/(2+2)=0.75
            (11, "b a"),        # p(b a)=(1+1)/(2+2)=0.5
            (12, "z a"),        # oov context z: p=(0+1)/(0+2)=0.5, oov=1
            (13, "a"),          # <2 tokens -> no row
        ],
        "id long, text string",
    )
    out = {r.id: r for r in lm_bigram_neglogprob(docs, ref, "id", "text").collect()}
    assert set(out) == {10, 11, 12}
    assert out[10].n_bigrams == 1
    assert abs(out[10].avg_neglogp - round(-math.log(0.75), 6)) < 1e-6
    assert out[10].oov_rate == 0.0
    assert abs(out[11].avg_neglogp - round(-math.log(0.5), 6)) < 1e-6
    assert out[12].oov_rate == 1.0
    assert abs(out[12].avg_neglogp - round(-math.log(0.5), 6)) < 1e-6
    # ref-like docs must score lower (better) than junk on the big table
    junk = spark.createDataFrame([(20, "zq xw vv zq kk")], "id long, text string")
    clean = spark.createDataFrame([(21, "a b a b a")], "id long, text string")
    both = junk.unionByName(clean)
    sc = {r.id: r.avg_neglogp for r in lm_bigram_neglogprob(both, ref, "id", "text").collect()}
    assert sc[21] < sc[20]


def test_compact_recovers_from_crash_inside_rename_window(spark, tmp_path):
    """A compact that died inside its whole-index swap leaves the index
    missing beside its parked original ``idx.old`` or beside the marked
    compacted copy ``idx.staging``; re-running compact must restore and
    proceed, never delete the only surviving copy."""
    import os
    import shutil

    from vmware_graph_spark.operators.dedup import (
        compact_dedup_index,
        dedup_against_index,
        write_dedup_index,
    )
    from vmware_graph_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    ref = d.filter(F.col("doc_id") % 3 != 2)
    probe = d.filter(F.col("doc_id") % 3 == 2).limit(20)
    idx = str(tmp_path / "idx")
    write_dedup_index(ref, idx, "doc_id", "text")
    exp = sorted(map(tuple, dedup_against_index(probe, spark, idx, "doc_id", "text").collect()))

    # crash state A: index gone, original parked at idx.old
    os.rename(idx, idx + ".old")
    compact_dedup_index(spark, idx)
    assert os.path.exists(idx) and not os.path.exists(idx + ".old")
    got = sorted(map(tuple, dedup_against_index(probe, spark, idx, "doc_id", "text").collect()))
    assert got == exp

    # crash state B: index gone, only the marked compacted copy at idx.staging
    shutil.move(idx, idx + ".staging")
    compact_dedup_index(spark, idx)
    assert os.path.exists(idx) and not os.path.exists(idx + ".staging")
    got = sorted(map(tuple, dedup_against_index(probe, spark, idx, "doc_id", "text").collect()))
    assert got == exp


def test_index_format_marker_rejects_mismatch(spark, tmp_path):
    """Reading or extending an index under different parameters or a
    different hash family must fail loudly — a silent family mismatch
    would flag every near-duplicate as kept (round-6 review)."""
    import json
    import os

    import pytest

    from vmware_graph_spark.operators.dedup import (
        dedup_against_index,
        extend_dedup_index,
        write_dedup_index,
    )
    from vmware_graph_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    write_dedup_index(d.filter(F.col("doc_id") % 3 == 0), idx, "doc_id", "text")
    probe = d.filter(F.col("doc_id") % 3 == 1).limit(5)

    with pytest.raises(ValueError, match="format mismatch"):
        dedup_against_index(probe, spark, idx, "doc_id", "text", bands=2)
    with pytest.raises(ValueError, match="format mismatch"):
        extend_dedup_index(probe, idx, "doc_id", "text", num_hashes=16)

    # stale hash family (an index persisted before this commit)
    fp = os.path.join(idx, "format.json")
    meta = json.load(open(fp))
    meta["hash_family"] = "md5-per-seed-v1"
    json.dump(meta, open(fp, "w"))
    with pytest.raises(ValueError, match="format mismatch"):
        dedup_against_index(probe, spark, idx, "doc_id", "text")

    os.remove(fp)
    with pytest.raises(ValueError, match="no format.json"):
        dedup_against_index(probe, spark, idx, "doc_id", "text")


def test_reader_racing_compact_identical_or_loud(spark, tmp_path):
    """The index's reader/compact race contract (round-6 VERDICT #4):
    compaction swaps the whole index in at once, so an overlapping
    reader sees (a) the pre-compact index, (b) the post-compact index,
    or (c) a loud failure on a vanished file. (a) and (b) decide
    identically — compaction only drops duplicate rows the read path
    already collapses — and a reader must never answer silently wrong.
    Reader B also checks the stronger per-table form of that claim."""
    import shutil

    from vmware_graph_spark.operators.dedup import (
        INDEX_TABLES,
        compact_dedup_index,
        dedup_against_index,
        write_dedup_index,
    )
    from vmware_graph_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    ref = d.filter(F.col("doc_id") % 3 != 2)
    probe = d.filter(F.col("doc_id") % 3 == 2).limit(40)

    idx = str(tmp_path / "idx")
    write_dedup_index(ref, idx, "doc_id", "text")
    # crash-retry residue so the compact genuinely rewrites every table
    for t in INDEX_TABLES:
        dup = spark.read.parquet(f"{idx}/{t}.parquet").localCheckpoint(eager=True)
        dup.write.mode("append").parquet(f"{idx}/{t}.parquet")

    expected = sorted(
        map(tuple, dedup_against_index(probe, spark, idx, "doc_id", "text").collect())
    )

    # full pre-compact copy for the mixed-table reader below
    pre = str(tmp_path / "pre")
    shutil.copytree(idx, pre)

    # reader A: plans (and captures its file listing) BEFORE the compact
    racing = dedup_against_index(probe, spark, idx, "doc_id", "text")

    compact_dedup_index(spark, idx)

    try:
        got = sorted(map(tuple, racing.collect()))
    except Exception:
        pass  # (c): a loud vanished-file failure is within contract
    else:
        assert got == expected  # (a)-ish: whatever it read, decisions match

    # reader B: an index view with fingerprints+buckets PRE-compact and
    # shingles+sizes POST-compact must decide identically
    mixed = str(tmp_path / "mixed")
    os.makedirs(mixed)
    shutil.copy(os.path.join(idx, "format.json"), mixed)
    for t, src in (
        ("fingerprints", pre),
        ("buckets", pre),
        ("shingles", idx),
        ("sizes", idx),
    ):
        shutil.copytree(f"{src}/{t}.parquet", f"{mixed}/{t}.parquet")
    got_mixed = sorted(
        map(tuple, dedup_against_index(probe, spark, mixed, "doc_id", "text").collect())
    )
    assert got_mixed == expected

    # reader C: a fresh post-compact read agrees too
    fresh = sorted(
        map(tuple, dedup_against_index(probe, spark, idx, "doc_id", "text").collect())
    )
    assert fresh == expected


def test_reader_threads_racing_live_extend(spark, tmp_path):
    """TRUE-concurrency smoke for the coordination-free-reader claim
    (DEPLOY.md round-7 section; round-7 VERDICT missing #3): a reader
    thread loops full ``dedup_against_index`` probes WHILE the main
    thread commits several real ``extend_dedup_index`` batches against
    the same path. The extend batches are vocabulary-disjoint from the
    probes (no shared fingerprint, shingle, or — after the Jaccard
    verify — surviving candidate), so a correct reader's decisions are
    IDENTICAL no matter which mix of pre/mid/post-append files its
    listing catches; a reader that catches an in-flight file state may
    fail LOUDLY and retry, but must never answer silently wrong."""
    import threading

    from vmware_graph_spark.operators.dedup import (
        dedup_against_index,
        extend_dedup_index,
        write_dedup_index,
    )
    from vmware_graph_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    ref = d.filter(F.col("doc_id") % 3 == 0)
    probe = d.filter(F.col("doc_id") % 3 == 2).limit(20).cache()
    probe.count()

    idx = str(tmp_path / "idx")
    write_dedup_index(ref, idx, "doc_id", "text")
    expected = sorted(
        map(tuple, dedup_against_index(probe, spark, idx, "doc_id", "text").collect())
    )

    done = threading.Event()
    outcomes: list[tuple[str, object]] = []

    def reader():
        while not done.is_set():
            try:
                got = sorted(
                    map(
                        tuple,
                        dedup_against_index(
                            probe, spark, idx, "doc_id", "text"
                        ).collect(),
                    )
                )
            except Exception as e:  # loud-is-fine: retry on next loop
                outcomes.append(("loud", type(e).__name__))
            else:
                outcomes.append(("ok", got))

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        # real extends with disjoint vocabulary: per-batch synthetic
        # docs whose every token carries a batch-unique suffix. The
        # writer KEEPS extending (minimum 3 batches, bounded at 12)
        # until the reader has completed at least two full probes
        # DURING the writes — a fixed batch count could outpace the
        # reader on a loaded box and fail spuriously despite correct
        # behavior (round-8 ADVICE #4). Decisions are batch-count
        # independent: every batch is vocabulary-disjoint from the
        # probes, so `expected` holds for any number of extends.
        n_ok = lambda: len([o for k, o in outcomes if k == "ok"])
        pre_write_oks = n_ok()  # probes finished before any write don't count
        b = 0
        while b < 3 or (b < 12 and n_ok() - pre_write_oks < 2):
            batch = (
                d.filter(F.col("doc_id") % 3 == 1)
                .limit(30)
                .select(
                    (F.col("doc_id") + (b + 1) * 10_000_000).alias("doc_id"),
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), r"\s+"),
                            lambda x: F.concat(x, F.lit(f"~xb{b}")),
                        ),
                        " ",
                    ).alias("text"),
                )
            )
            extend_dedup_index(batch, idx, "doc_id", "text")
            b += 1
    finally:
        done.set()
        t.join(timeout=120)
    assert not t.is_alive()

    oks = [o for kind, o in outcomes if kind == "ok"]
    # >=2 probes completed AFTER writing began: genuine overlap
    assert len(oks) - pre_write_oks >= 2, outcomes
    for got in oks:
        assert got == expected  # decision-identical under a live writer

    # and a fresh post-extend read still agrees
    fresh = sorted(
        map(tuple, dedup_against_index(probe, spark, idx, "doc_id", "text").collect())
    )
    assert fresh == expected


def test_release_pins_reclaims_disk_blocks(spark):
    """release_pins() unpersists every registered pin (DISK_ONLY
    blocks are NOT LRU-evicted — round-8 ADVICE #1: repeated
    per-batch dedup invocations otherwise accumulate disk blocks
    unboundedly), drains the registry, and never breaks a released
    frame (lineage kept, recompute works)."""
    from vmware_graph_spark.operators.pin import pinned, pinned_lazy, release_pins

    release_pins()  # drain pins other tests may have left behind
    eager = pinned(spark.range(100))
    lazy = pinned_lazy(spark.range(50))
    lazy.count()  # materialize the lazy pin too
    assert eager.storageLevel.useDisk and lazy.storageLevel.useDisk

    assert release_pins() == 2
    assert not eager.storageLevel.useDisk
    assert not lazy.storageLevel.useDisk
    assert release_pins() == 0  # registry drained; second call a no-op
    assert eager.count() == 100  # correctness-safe: recompute from lineage


def test_stream_dedup_releases_pins_per_batch(spark, tmp_path):
    """The streaming dedup path reclaims its per-batch pins at every
    micro-batch boundary: after the run, no dedup-created pin remains
    registered (the unbounded-disk-accumulation ADVICE scenario)."""
    from vmware_graph_spark.operators.pin import _LIVE_PINS, release_pins
    from vmware_graph_spark.sources.tables import load_table
    from vmware_graph_spark.streaming.events import stream_dedup_against

    release_pins()
    d = load_table(spark, SF, "documents")
    ref = d.filter(F.col("doc_id") % 5 == 0)
    arrivals = str(tmp_path / "arrivals")
    d.filter(F.col("doc_id") % 5 == 1).limit(20).coalesce(1).write.json(arrivals)
    sdf = spark.readStream.schema(d.schema).json(arrivals)
    stream_dedup_against(
        sdf, ref, "doc_id", "text",
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    assert len(_LIVE_PINS) == 0  # every batch released its pins
    assert spark.read.parquet(str(tmp_path / "out")).count() == 20


# ---------------------------------------------------------------------------
# round-11: GIF (LZW) stdlib decode
# ---------------------------------------------------------------------------

def _lzw_encode_ref(indices, mcs):
    """Independent test-side GIF-LZW encoder: greedy longest-match,
    code width bumps at next_code == 2^width + 1 — the lagged rule
    that mirrors the decoder's add-entry-then-bump (the decoder's
    table is one entry behind the encoder's at read time)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    bits = []

    def emit(code, width):
        for k in range(width):
            bits.append((code >> k) & 1)

    table = {(i,): i for i in range(clear)}
    width, next_code = mcs + 1, eoi + 1
    emit(clear, width)
    seq = ()
    for s in indices:
        if seq + (s,) in table:
            seq = seq + (s,)
            continue
        emit(table[seq], width)
        if next_code < 4096:
            table[seq + (s,)] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        seq = (s,)
    if seq:
        emit(table[seq], width)
    emit(eoi, width)
    by = bytearray()
    for i in range(0, len(bits), 8):
        v = 0
        for j, bit in enumerate(bits[i : i + 8]):
            v |= bit << j
        by.append(v)
    return bytes(by)


def _build_gif(w, h, palette, indices, mcs):
    import struct

    gct_bits = {4: 1, 8: 2, 16: 3}[len(palette)]
    head = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | gct_bits, 0, 0)
    ct = b"".join(bytes(c) for c in palette)
    gce = b"!\xf9\x04\x00\x00\x00\x00\x00"
    img = b"," + struct.pack("<HHHHB", 0, 0, w, h, 0)
    data = _lzw_encode_ref(indices, mcs)
    blocks = b""
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    return head + ct + gce + img + bytes([mcs]) + blocks + b"\x00;"


def test_gif_decode_canonical_one_pixel():
    """The classic public 1x1 white GIF89a byte vector decodes exactly
    (header, GCE skip, 2-entry color table, real compressed stream)."""
    from vmware_graph_spark.operators.multimodal import decode_image_stdlib

    one = (
        b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
        b"!\xf9\x04\x01\x00\x00\x00\x00"
        b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;"
    )
    d = decode_image_stdlib(one, "image/gif")
    assert (d.width, d.height) == (1, 1)
    assert (d.mean_r, d.mean_g, d.mean_b) == (255.0, 255.0, 255.0)


def test_gif_lzw_roundtrip_property():
    """The decoder must invert an INDEPENDENT greedy LZW encoder over
    random index streams — covering table growth through the variable
    code widths up to the 12-bit cap and the KwKwK case."""
    import random

    from vmware_graph_spark.operators.multimodal import _gif_lzw_decode

    rng = random.Random(7)
    for _ in range(60):
        n_colors = rng.choice([4, 8, 16])
        mcs = {4: 2, 8: 3, 16: 4}[n_colors]
        n = rng.randint(1, 4000)
        idx = [rng.randrange(n_colors) for _ in range(n)]
        # runs of repeats exercise KwKwK (code == next_code)
        if n > 10:
            idx[2:7] = [idx[1]] * 5
        assert list(_gif_lzw_decode(_lzw_encode_ref(idx, mcs), mcs, n)) == idx


def test_gif_full_file_decode_and_rejects():
    from vmware_graph_spark.operators.multimodal import decode_image_stdlib

    pal = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (200, 210, 220)]
    w, h = 37, 29
    idx = [(r * w + c) % 4 for r in range(h) for c in range(w)]
    g = _build_gif(w, h, pal, idx, 2)
    d = decode_image_stdlib(g, "image/gif")
    exp = [sum(pal[i][ch] for i in idx) / (w * h) for ch in range(3)]
    assert (d.width, d.height) == (w, h)
    assert abs(d.mean_r - exp[0]) < 1e-9
    assert abs(d.mean_g - exp[1]) < 1e-9
    assert abs(d.mean_b - exp[2]) < 1e-9

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_image_stdlib(b"GIF89a" + b"\x00" * 7 + b";", "image/gif")
    # truncated LZW stream must fail loudly, not return short pixels
    with _pytest.raises(ValueError):
        decode_image_stdlib(g[:-8] + b"\x00;", "image/gif")


def test_pgm_pbm_stdlib_decode():
    """Binary PGM (P5) and PBM (P4) join the stdlib raster family:
    grayscale byte payloads and MSB-first bit-packed rows (1 = black),
    rows padded to byte boundaries."""
    import pytest as _pytest

    from vmware_graph_spark.operators.multimodal import decode_image_stdlib

    pgm = b"P5\n# c\n3 2\n255\n" + bytes([0, 128, 255, 10, 20, 30])
    d = decode_image_stdlib(pgm, "image/x-portable-graymap")
    exp = (0 + 128 + 255 + 10 + 20 + 30) / 6
    assert (d.width, d.height) == (3, 2)
    assert d.mean_r == d.mean_g == d.mean_b == exp

    # 10x2 bitmap: row0 all black (bits 1), row1 all white; stride 2
    pbm = b"P4\n10 2\n" + bytes([0xFF, 0xC0, 0x00, 0x00])
    d = decode_image_stdlib(pbm, "image/x-portable-bitmap")
    assert (d.width, d.height) == (10, 2)
    assert d.mean_r == 255.0 * 0.5

    with _pytest.raises(ValueError):
        decode_image_stdlib(b"P5\n3 2\n255\n\x00", "image/x-portable-graymap")
    with _pytest.raises(ValueError):
        decode_image_stdlib(b"P4\n10 2\n\xff", "image/x-portable-bitmap")
    with _pytest.raises(ValueError):
        decode_image_stdlib(b"P5\n3", "image/x-portable-graymap")


def test_ulaw_expansion_vs_audioop_and_wav_decode():
    """The G.711 µ-law expansion must match Python's independent
    audioop.ulaw2lin over ALL 256 byte values, and a format-7 WAV must
    decode through the manual RIFF walk (wave.open rejects format 7)."""
    import struct

    from vmware_graph_spark.operators.multimodal import (
        _ulaw_expand,
        decode_audio_stdlib,
    )

    try:
        import audioop  # removed in 3.13; present in this container

        raw = bytes(range(256))
        want = struct.unpack("<256h", audioop.ulaw2lin(raw, 2))
        assert [_ulaw_expand(u) for u in range(256)] == list(want)
    except ImportError:
        # spot values from the ITU-T expansion (bias-0x84 form)
        assert _ulaw_expand(0x00) == -32124
        assert _ulaw_expand(0x80) == 32124
        assert _ulaw_expand(0xFF) == 0
        assert _ulaw_expand(0x7F) == -0

    payload = bytes((i * 11) % 256 for i in range(50))
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(payload)) + payload)
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    d = decode_audio_stdlib(wav, "audio/wav")
    assert (d.channels, d.sample_rate, d.n_samples) == (1, 8000, 50)
    assert list(d.samples) == [_ulaw_expand(v) for v in payload]

    import pytest as _pytest

    bad = wav.replace(struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8),
                      struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 16))
    with _pytest.raises(ValueError):
        decode_audio_stdlib(bad, "audio/wav")

    # a truncated data chunk must fail LOUDLY (round-11 advice: the
    # RIFF walk used to clamp the slice and decode a short sample list)
    with _pytest.raises(ValueError, match="truncated"):
        decode_audio_stdlib(wav[:-10], "audio/wav")
