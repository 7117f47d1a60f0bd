"""Unit tests for the MERGE family (SURVEY §2.4) on tiny DataFrames."""

from __future__ import annotations

from pyspark.sql import functions as F

from vmware_graph_spark.operators.merge import (
    canonical_edges,
    merge_edges,
    merge_nodes,
)


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_merge_set_updates_win(spark):
    existing = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["k", "status", "price"]
    )
    updates = spark.createDataFrame([(2, "U", 99.0), (3, "c", 30.0)], ["k", "status", "price"])
    out = merge_nodes(existing, updates, ["k"])
    assert rows(out, "k", "status", "price") == [
        (1, "a", 10.0),
        (2, "U", 99.0),
        (3, "c", 30.0),
    ]


def test_merge_on_create_existing_wins(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    updates = spark.createDataFrame([(2, "U"), (3, "c")], ["k", "v"])
    out = merge_nodes(existing, updates, ["k"], on_create_only=True)
    assert rows(out, "k", "v") == [(1, "a"), (2, "b"), (3, "c")]


def test_merge_per_column_preserves_untouched_props(spark):
    """MERGE…SET only overwrites properties the update batch carries:
    columns absent from updates keep their existing values
    (refresh-vmware.cypher:39-40 semantics — earlier stages' writes
    survive later stages touching the same node)."""
    existing = spark.createDataFrame([(1, "keep", 1.5)], ["k", "early_prop", "price"])
    updates = spark.createDataFrame([(1, 9.9)], ["k", "price"])
    out = merge_nodes(existing, updates, ["k"])
    assert rows(out, "k", "early_prop", "price") == [(1, "keep", 9.9)]


def test_merge_null_keys_dropped(spark):
    existing = spark.createDataFrame([(1, "a")], ["k", "v"])
    updates = spark.createDataFrame([(None, "x"), (2, "b")], ["k", "v"])
    out = merge_nodes(existing, updates, ["k"])
    assert rows(out, "k", "v") == [(1, "a"), (2, "b")]


def test_merge_intra_batch_duplicates_deterministic(spark):
    updates = spark.createDataFrame([(1, "z"), (1, "a")], ["k", "v"])
    out = merge_nodes(None, updates, ["k"])
    assert rows(out, "k", "v") == [(1, "a")]  # total order over value cols


def test_merge_idempotent(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    once = merge_nodes(existing, existing, ["k"])
    twice = merge_nodes(once, existing, ["k"])
    assert rows(once, "k", "v") == rows(twice, "k", "v") == [(1, "a"), (2, "b")]


def _edge(spark, src, rel, dst):
    return spark.createDataFrame(
        [("L", src, rel, "L", dst)],
        ["src_label", "src_key", "rel_type", "dst_label", "dst_key"],
    )


def test_undirected_edge_canonicalizes_both_directions(spark):
    e = _edge(spark, "a", "T", "b").unionByName(_edge(spark, "b", "T", "a"))
    out = merge_edges(e, undirected_types=["T"])
    assert out.count() == 1
    assert rows(out, "src_key", "dst_key") == [("a", "b")]


def test_directed_edge_keeps_both_directions(spark):
    e = _edge(spark, "a", "T", "b").unionByName(_edge(spark, "b", "T", "a"))
    out = merge_edges(e)
    assert out.count() == 2


def test_canonical_edges_comma_keys_do_not_collide(spark):
    """Struct comparison is field-wise: keys containing ', ' must not
    merge distinct edges (the string-render collision from ADVICE r1)."""
    e = spark.createDataFrame(
        [
            ("L", "a, b", "T", "L", "c"),
            ("L", "a", "T", "L", "b, c"),
        ],
        ["src_label", "src_key", "rel_type", "dst_label", "dst_key"],
    )
    out = canonical_edges(e, ["T"])
    assert out.distinct().count() == 2


def test_merge_edges_with_props_dedups_and_merges_maps(spark):
    from vmware_graph_spark.operators.merge import merge_edges_with_props

    # same edge asserted three times: bare, with one prop, with another —
    # ONE edge row whose map is the per-key union (greatest value wins).
    e = (
        _edge(spark, "vm", "HW_VERSION", "v7")
        .unionByName(
            _edge(spark, "vm", "HW_VERSION", "v7")
            .withColumn("props", F.create_map(F.lit("upgradestatus"), F.lit("None")))
        , allowMissingColumns=True)
        .unionByName(
            _edge(spark, "vm", "HW_VERSION", "v7")
            .withColumn(
                "props",
                F.create_map(
                    F.lit("upgradestatus"), F.lit("Pending"),
                    F.lit("checked"), F.lit("true"),
                ),
            )
        , allowMissingColumns=True)
    )
    out = merge_edges_with_props(e).collect()
    assert len(out) == 1
    assert out[0]["props"] == {"upgradestatus": "Pending", "checked": "true"}


def test_merge_edges_with_props_undirected_canonicalizes(spark):
    from vmware_graph_spark.operators.merge import merge_edges_with_props

    e = (
        _edge(spark, "a", "T", "b")
        .withColumn("props", F.create_map(F.lit("w"), F.lit("1")))
        .unionByName(
            _edge(spark, "b", "T", "a").withColumn(
                "props", F.create_map(F.lit("w"), F.lit("2"))
            )
        )
    )
    out = merge_edges_with_props(e, undirected_types=["T"]).collect()
    assert len(out) == 1
    assert (out[0]["src_key"], out[0]["dst_key"]) == ("a", "b")
    assert out[0]["props"] == {"w": "2"}


def test_merge_edges_with_props_empty_map_for_bare_edges(spark):
    from vmware_graph_spark.operators.merge import merge_edges_with_props

    out = merge_edges_with_props(_edge(spark, "a", "T", "b")).collect()
    assert out[0]["props"] == {}


def test_merge_edges_with_props_last_batch_wins(spark):
    """ADVICE r3: per-property conflict resolution is LAST-writer-wins
    (Cypher SET), not lexicographic max — a later batch's 'None' must
    replace an earlier batch's 'Pending' even though 'Pending' > 'None'."""
    from vmware_graph_spark.operators.merge import merge_edges_with_props

    batches = (
        _edge(spark, "vm", "HW_VERSION", "v7")
        .withColumn("props", F.create_map(F.lit("upgradestatus"), F.lit("Pending")))
        .withColumn("__batch_ord", F.lit(0))
        .unionByName(
            _edge(spark, "vm", "HW_VERSION", "v7")
            .withColumn("props", F.create_map(F.lit("upgradestatus"), F.lit("None")))
            .withColumn("__batch_ord", F.lit(1))
        )
    )
    out = merge_edges_with_props(batches, order_col="__batch_ord").collect()
    assert len(out) == 1
    assert out[0]["props"] == {"upgradestatus": "None"}


def test_graphstore_edge_props_last_add_wins(spark):
    """Through the store: two add_edges calls asserting the same edge
    prop — edges_with_props carries the LATER call's value (add_edges
    stamps each batch with its assertion order)."""
    from vmware_graph_spark.store.graph import GraphStore

    gs = GraphStore(spark)
    gs.add_edges(
        _edge(spark, "vm", "HW_VERSION", "v7").withColumn(
            "upgradestatus", F.lit("Pending")
        )
    )
    gs.add_edges(
        _edge(spark, "vm", "HW_VERSION", "v7").withColumn(
            "upgradestatus", F.lit("None")
        )
    )
    out = gs.edges_with_props().collect()
    assert len(out) == 1
    assert out[0]["props"] == {"upgradestatus": "None"}


def test_salted_join_matches_plain_join(spark):
    from vmware_graph_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i % 3, f"v{i}") for i in range(200)], ["k", "payload"]
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["k", "dim"])
    got = sorted(map(tuple, salted_join(big, small, ["k"], salts=4).collect()))
    want = sorted(map(tuple, big.join(small, "k").collect()))
    assert got == want


def test_salted_join_spreads_hot_key(spark):
    """All rows share one key; the salt must split them across >1 value."""
    from pyspark.sql import functions as F
    from vmware_graph_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, f"p{i}") for i in range(100)], ["k", "payload"])
    small = spark.createDataFrame([(1, "dim")], ["k", "d"])
    b = big.withColumn("__salt", F.pmod(F.hash("payload"), F.lit(8)))
    assert b.select("__salt").distinct().count() > 1
    assert salted_join(big, small, ["k"], salts=8).count() == 100


def test_merge_run_equals_sequential_merges(spark):
    """A run of same-column update batches merges in one pick exactly
    as the batches merge one at a time (the reference), for MERGE…SET
    and ON CREATE SET, with no existing table, an existing table on the
    same columns and one on different columns: intra-batch duplicates,
    null keys and cross-batch override order included, and the column
    order kept."""
    keys = ["k"]
    b1 = spark.createDataFrame(
        [(1, "a1", 10), (2, "b1", 20), (2, "b1x", 21), (3, "c1", 30),
         (None, "n1", 99)],
        ["k", "name", "v"],
    )
    b2 = spark.createDataFrame([(2, "b2", 22), (4, "d2", 40)], ["k", "name", "v"])
    b3 = spark.createDataFrame(
        [("e3", 5, 50), ("a3", 1, 11), ("d3", 4, 41)], ["name", "k", "v"]
    )
    same = spark.createDataFrame(
        [("e0", 0, 1), ("e6", 60, 6), ("n0", 1, None)], ["name", "v", "k"]
    )
    other = spark.createDataFrame(
        [(1, "x1"), (6, "x6"), (None, "xn")], ["k", "extra"]
    )
    for existing in (None, same, other):
        for oco in (False, True):
            seq = existing
            for b in (b1, b2, b3):
                seq = merge_nodes(seq, b, keys, on_create_only=oco)
            run = merge_nodes(existing, [b1, b2, b3], keys, on_create_only=oco)
            assert run.columns == seq.columns, (oco, run.columns, seq.columns)
            a = sorted(map(tuple, seq.collect()), key=repr)
            b = sorted(map(tuple, run.collect()), key=repr)
            assert a == b, (existing and existing.columns, oco, a, b)


def _windows(df):
    return df._jdf.queryExecution().executedPlan().toString().count("Window [")


def test_graphstore_flush_runs_equal_sequential_merges(spark, tmp_path):
    """Upserts queued as [s1, s1, s2, s1] (two column sets) read back
    once equal merging them one at a time, whether each label is
    flushed serially or all of them concurrently by ``write``; a
    two-batch same-column run onto a stored label with those columns
    adds ONE pick window."""
    from vmware_graph_spark.store.graph import GraphStore

    label, keys = "Vcenterserver", ["uid"]
    cols = ["uid", "name", "v"]
    s1a = spark.createDataFrame(
        [("u1", "a", 1), ("u2", "bx", 2), ("u2", "b", 2)], cols
    )
    s1b = spark.createDataFrame([("u2", "c", 3), ("u3", "d", None)], cols)
    s2 = spark.createDataFrame([("u1", "x"), ("u4", "y")], ["uid", "extra"])
    s1c = spark.createDataFrame([("u4", "e", 5), (None, "n", 0)], cols)

    store, seq = GraphStore(spark, checkpoint=False), None
    for b in (s1a, s1b, s2, s1c):
        store.upsert_nodes(label, b)
        seq = merge_nodes(seq, b, keys)
    got = store.vertices(label)
    assert got.columns == seq.columns
    want = sorted(map(tuple, seq.collect()), key=repr)
    assert sorted(map(tuple, got.collect()), key=repr) == want

    # the same queue on three labels (keyed uid, path, url), written by
    # write()'s concurrent flush tasks, reads back the same rows
    fanned = GraphStore(spark)
    named = {"Vcenterserver": "uid", "Vfolder": "path", "Vdatastore": "url"}
    for lb, key in named.items():
        for b in (s1a, s1b, s2, s1c):
            fanned.upsert_nodes(lb, b.withColumnRenamed("uid", key))
    fanned.write(str(tmp_path / "snap"))
    back = GraphStore.read(spark, str(tmp_path / "snap"))
    for lb, key in named.items():
        rows = back.vertices(lb).withColumnRenamed(key, "uid").select(*seq.columns)
        assert sorted(map(tuple, rows.collect()), key=repr) == want, lb

    store = GraphStore(spark, checkpoint=False)
    store.upsert_nodes(label, s1a)
    before = _windows(store.vertices(label))
    store.upsert_nodes(label, s1b)
    store.upsert_nodes(label, s1c)
    assert _windows(store.vertices(label)) == before + 1


def test_node_key_null_propagation_and_int_rendering(spark):
    """node_key is built from one null-propagating concat (round-7
    rewrite): NULL when ANY component is null — never a phantom key
    from concat_ws's null-skipping — and non-string components render
    exactly as cast-to-string."""
    from vmware_graph_spark.store.graph import US, node_key

    df = spark.createDataFrame(
        [("a", "b", 17), ("a", None, 17), (None, "b", 17), (None, None, None)],
        "x string, y string, z int",
    )
    rows = df.select(
        node_key("x", "y").alias("k2"),
        node_key(F.col("z")).alias("k1"),
        node_key("x", F.col("z")).alias("km"),
    ).collect()
    assert rows[0].k2 == f"a{US}b" and rows[0].k1 == "17" and rows[0].km == f"a{US}17"
    assert rows[1].k2 is None and rows[1].k1 == "17"
    assert rows[2].k2 is None
    assert rows[3].k2 is None and rows[3].k1 is None and rows[3].km is None


def test_merge_edges_spread_identical_rows_single_exchange(spark):
    """merge_edges(spread=True) on an under-parallel input must (a)
    return EXACTLY the rows of the unspread form (two-sided exceptAll)
    and (b) plan ONE exchange total — the canonical-key repartition
    satisfies the distinct's clustering, so no ENSURE_REQUIREMENTS
    exchange follows it."""
    import re

    from vmware_graph_spark.operators.merge import merge_edges

    rows = [
        ("a", f"k{i % 7}", "REL", "b", f"m{i % 5}") if i % 2 == 0
        else ("b", f"m{i % 5}", "REL", "a", f"k{i % 7}")  # reversed assertion
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "src_label string, src_key string, rel_type string, dst_label string, dst_key string"
    ).coalesce(1)
    plain = merge_edges(df, undirected_types=["REL"])
    spread = merge_edges(df, undirected_types=["REL"], spread=True)
    assert spread.exceptAll(plain).count() == 0
    assert plain.exceptAll(spread).count() == 0
    plan = spread._jdf.queryExecution().executedPlan().toString()
    n_exchanges = len(re.findall(r"\bExchange (hash|range|Single)", plan))
    assert n_exchanges == 1, plan[:2000]
