"""Unit tests for the round-4 operators: leakage-safe splitting,
benchmark decontamination, token entropy, and packing plans."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_leakage_safe_split_no_cluster_straddles_splits(spark):
    """The defining invariant: every near-dup cluster's members land in
    ONE split, and split values are exactly the 80/10/10 names."""
    from vmware_graph_spark.queries_ext19 import leakage_safe_split_documents

    out = leakage_safe_split_documents(spark, SF)
    straddlers = (
        out.groupBy("component")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert straddlers == 0
    assert {r.split for r in out.select("split").distinct().collect()} <= {
        "train",
        "val",
        "test",
    }
    # covers every document exactly once
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs


def test_leakage_safe_split_vs_naive_split_fixture(spark):
    """On a fixture with one near-dup pair, the naive doc_id split can
    separate the pair (keys chosen so it does), while the cluster-keyed
    assignment keeps them together by construction."""
    from vmware_graph_spark.analytics.algos import connected_components
    from vmware_graph_spark.functions.sketch import hash_split
    from vmware_graph_spark.operators.dedup import minhash_lsh_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base), (8, base + " lambda"), (40, "totally different words here now")],
        "doc_id bigint, text string",
    )
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=8, bands=4, verify_threshold=0.4
    )
    got = {(r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()}
    assert (1, 8) in got
    cc = connected_components(
        docs.select(F.col("doc_id").alias("id")),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
    )
    comp = cc.select(F.col("id").alias("doc_id"), "component")
    safe = {r.doc_id: r.split for r in hash_split(comp, "component").collect()}
    assert safe[1] == safe[8]


def test_split_leakage_audit_accounts_for_every_pair(spark):
    """Audit rollup sums to the pair-table size; crosses_split is
    consistent with the (split_a, split_b) key."""
    from vmware_graph_spark.operators.dedup import minhash_lsh_pairs
    from vmware_graph_spark.queries_ext19 import split_leakage_audit
    from vmware_graph_spark.sources.tables import load_table

    out = split_leakage_audit(spark, SF).collect()
    d = load_table(spark, SF, "documents")
    n_pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, bands=4, verify_threshold=0.4
    ).count()
    assert sum(r.n_pairs for r in out) == n_pairs
    for r in out:
        assert r.crosses_split == (r.split_a != r.split_b)
        assert r.split_a <= r.split_b  # canonical ordering


def test_decontaminate_flags_exact_ngram_collisions(spark, tmp_path):
    """A train doc sharing a 5-gram with the held-out source is
    contaminated; one sharing only shorter overlaps is not; held-out
    docs never appear in the output."""
    import os

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g", "src0"),  # held-out
            (2, "x a b c d e y", "src1"),  # shares 5-gram "a b c d e"
            (3, "a b c q q q q", "src1"),  # only a 3-gram overlap
            (4, "nothing in common at all here", "src2"),
        ],
        "doc_id bigint, text string, source string",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    docs.write.parquet(f"{sf}/documents.parquet")
    from vmware_graph_spark.queries_ext19 import decontaminate_against_heldout

    out = {r.doc_id: r.contaminated for r in decontaminate_against_heldout(spark, sf).collect()}
    assert out == {2: True, 3: False, 4: False}


def test_token_entropy_bounds_and_degenerate_docs(spark, tmp_path):
    """Entropy is 0 for a single repeated token, log2(n) for n distinct
    tokens, and always within [0, log2(n_tok)]."""
    import math
    import os

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam", "s"),
            (2, "a b c d e f g h i j k l m n o p", "s"),
            (3, "a a b b c c d d", "s"),
        ],
        "doc_id bigint, text string, source string",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    docs.write.parquet(f"{sf}/documents.parquet")
    from vmware_graph_spark.queries_ext19 import token_entropy_quality

    out = {r.doc_id: r for r in token_entropy_quality(spark, sf).collect()}
    assert out[1].entropy == 0.0 and out[1].low_entropy
    assert abs(out[2].entropy - 4.0) < 1e-9 and not out[2].low_entropy
    assert abs(out[3].entropy - 2.0) < 1e-9
    for r in out.values():
        assert 0.0 <= r.entropy <= round(math.log2(r.n_tok), 6) + 1e-9


def test_length_bucket_packing_plan_conserves_docs_and_tokens(spark):
    from vmware_graph_spark.functions.text import n_tokens
    from vmware_graph_spark.queries_ext19 import length_bucket_packing_plan
    from vmware_graph_spark.sources.tables import load_table

    out = length_bucket_packing_plan(spark, SF).collect()
    d = load_table(spark, SF, "documents").select(n_tokens("text").alias("n"))
    d = d.filter(F.col("n") > 0)
    totals = d.agg(F.count("*").alias("docs"), F.sum("n").alias("toks")).collect()[0]
    assert sum(r.n_docs for r in out) == totals.docs
    assert sum(r.total_tokens for r in out) == totals.toks
    for r in out:
        # bucket members fit the padded length, so waste is in [0, 1)
        assert 0.0 <= r.padding_frac < 1.0
        assert r.n_batches >= 1
        assert r.seq_len == 2 ** (r.bucket_k + 1)


def test_streaming_late_drops_are_real_and_output_matches_closed_form(spark, tmp_path):
    """The two-phase drain must actually DROP late rows (progress
    metric > 0), and the emitted windows must equal the closed form:
    on-time rows in windows ending before max(on-time ts) - watermark."""
    import datetime
    import glob

    from vmware_graph_spark.sources.tables import load_table
    from vmware_graph_spark.streaming.events import stream_windowed_counts_phased

    ev = load_table(spark, SF, "events")
    ontime = ev.filter(F.col("event_id") % 2 == 0)
    late = ev.filter(F.col("event_id") % 2 == 1)
    d1, d2, sdir = (str(tmp_path / n) for n in ("a", "b", "stream"))
    (tmp_path / "stream").mkdir()
    ontime.coalesce(1).write.parquet(d1)
    late.coalesce(1).write.parquet(d2)
    qs = stream_windowed_counts_phased(
        spark,
        [glob.glob(d1 + "/part-*.parquet")[0], glob.glob(d2 + "/part-*.parquet")[0]],
        sdir,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    dropped_p2 = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in qs[1].recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped_p2 > 0  # the late file really hit the watermark

    got = {
        (r.ws, r.event_type): r.n
        for r in spark.read.parquet(str(tmp_path / "out"))
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "event_type",
            "n",
        )
        .collect()
    }
    wm = ontime.agg(F.max("ts")).collect()[0][0] - datetime.timedelta(hours=2)
    exp = {
        (r.ws.strftime("%Y-%m-%d %H:%M:%S"), r.event_type): r["count"]
        for r in ontime.withColumn("ws", F.date_trunc("hour", "ts"))
        .filter((F.col("ws") + F.expr("INTERVAL 1 HOUR")) <= F.lit(wm))
        .groupBy("ws", "event_type")
        .count()
        .collect()
    }
    assert got == exp


def test_fresh_dir_is_removed_at_exit(tmp_path):
    """A working dir from ``tmpcache.fresh_dir`` lives under the
    cache root, so it is gone once the process that made it exits."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = "from vmware_graph_spark.tmpcache import fresh_dir; print(fresh_dir('vgs_x_'))"
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": repo}
    made = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True
    ).stdout.strip()
    assert made.startswith(str(tmp_path)) and os.path.basename(made).startswith("vgs_x_")
    assert not os.path.exists(made)
    assert os.listdir(tmp_path) == []


def test_streaming_late_audit_registry_query_end_to_end(spark):
    """Round-5 regression guard: invoke the REGISTRY entry (not the
    kernel) so cache-path refactors in the wrapper can't silently
    break it again — the tmpcache refactor shipped a wrapper that
    crashed on every call while the kernel test stayed green. Also
    pins the reuse contract: a second invocation must hit the cache's
    commit marker and return identical rows without rebuilding."""
    import datetime
    import os

    from vmware_graph_spark.commit import MARK
    from vmware_graph_spark.queries import QUERIES
    from vmware_graph_spark.sources.tables import load_table
    from vmware_graph_spark.tmpcache import cache_dir, data_key

    rows1 = QUERIES["streaming_late_data_drop_audit"](spark, SF).collect()
    assert len(rows1) > 0

    root = cache_dir("late_audit", data_key(SF, "events"))
    sentinel = os.path.join(root, MARK)
    assert os.path.exists(sentinel)
    mtime = os.path.getmtime(sentinel)

    rows2 = QUERIES["streaming_late_data_drop_audit"](spark, SF).collect()
    assert sorted(map(tuple, rows2)) == sorted(map(tuple, rows1))
    assert os.path.getmtime(sentinel) == mtime  # cache hit, no rebuild

    # closed form: on-time rows in windows ending before head - 2h
    ev = load_table(spark, SF, "events")
    ontime = ev.filter(F.col("event_id") % 2 == 0)
    wm = ontime.agg(F.max("ts")).collect()[0][0] - datetime.timedelta(hours=2)
    exp = {
        (r.ws.strftime("%Y-%m-%d %H:%M:%S"), r.event_type): r["count"]
        for r in ontime.withColumn("ws", F.date_trunc("hour", "ts"))
        .filter((F.col("ws") + F.expr("INTERVAL 1 HOUR")) <= F.lit(wm))
        .groupBy("ws", "event_type")
        .count()
        .collect()
    }
    assert {(r.window_start, r.event_type): r.n for r in rows1} == exp
