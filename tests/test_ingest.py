"""Golden tests for the ingest layer + refresh protocol (SURVEY §5.2-5.3).

Workbook A (tests/fixtures.py) exercises every branch; assertions below
are hand-derived from refresh-vmware.cypher semantics. Module-scoped
fixtures build the graph once.
"""

from __future__ import annotations

import importlib

import pytest
from pyspark.sql import functions as F

import fixtures
from vmware_graph_spark.ingest import refresh, run_ingest
from vmware_graph_spark.store.graph import US


@pytest.fixture(scope="module")
def built(spark):
    sheets = fixtures.workbook(spark, "A")
    store = run_ingest(spark, sheets, fixtures.seeds(spark))
    edges = {
        (r.src_label, r.src_key, r.rel_type, r.dst_label, r.dst_key)
        for r in store.edges().collect()
    }
    return store, edges


def k(*parts):
    return US.join(parts)


def edge_set(edges, rel):
    return {(s_k, d_k) for (s_l, s_k, r, d_l, d_k) in edges if r == rel}


# -- node goldens ----------------------------------------------------------


def test_unknown_cluster_host_dropped(built):
    store, _ = built
    hosts = {r.objid for r in store.vertices("Vspherehost").collect()}
    assert hosts == {"host-1", "host-2", "host-3", "host-4"}  # host-5 gone


def test_cluster_props(built):
    store, _ = built
    rows = {r.name: r for r in store.vertices("Vcentercluster").collect()}
    assert rows["ClusterA"].hosts == "green"  # bug §0.2.6 declared behavior
    assert rows["ClusterA"].ha == "True"
    assert rows["ClusterC"].managedby == "uid-2"


def test_vm_dedup_and_typed_props(built):
    store, _ = built
    vms = {r.uuid: r for r in store.vertices("Virtualmachine").collect()}
    assert len(vms) == 6
    # intra-batch duplicate resolved deterministically (min over value cols)
    assert vms["vm-uuid-6"].note == "aa earlier row"
    # toInt on garbage → null; fqdn read from the ROW (bug §0.2.3 fixed)
    assert vms["vm-uuid-4"].memory is None
    assert vms["vm-uuid-1"].memory == 8192
    assert vms["vm-uuid-1"].fqdn == "web01.corp.example"


def test_ip_fqdn_classification(built):
    store, _ = built
    ntp = {(r.kind, r.address) for r in store.vertices("Ntpserver").collect()}
    # 256.1.1.1 fails the anchored IPv4 match → fqdn branch (P5 trap)
    assert ntp == {("ip", "10.0.0.1"), ("fqdn", "ntp1.corp.example"), ("fqdn", "256.1.1.1")}
    dns = {(r.kind, r.address) for r in store.vertices("Dnsserver").collect()}
    # '10.0.0.1x' must NOT classify as ip (unanchored rlike would match)
    assert ("fqdn", "10.0.0.1x") in dns
    assert ("ip", "8.8.8.8") in dns and ("ip", "1.2.3.4") in dns


def test_coalesce_defaults(built):
    store, _ = built
    vendors = {r.name for r in store.vertices("Crmmanufacturer").collect()}
    assert vendors == {"Dell Inc.", "None Provided"}
    speeds = {r.name for r in store.vertices("Vmnicspeed").collect()}
    assert speeds == {"10000 Mb", "No link"}


def test_resource_pool_tree(built):
    store, _ = built
    pools = {(r.vc, r.path): r for r in store.vertices("Vresourcepool").collect()}
    assert ("vcenter1.example", "/DC1/ClusterA/Resources/prod/web") in pools
    assert pools[("vcenter1.example", "/DC1/ClusterA/Resources/prod/web")].name == "web"
    # vInfo-created pool (FOREACH conditional, cypher:199)
    assert ("vcenter1.example", "/DC1/ClusterB/Resources/dev/api") in pools
    # sentinel pools from vCluster (cypher:36)
    assert ("vcenter1.example", "None Configured") in pools
    assert ("vcenter2.example", "None Configured") in pools


# -- edge goldens ----------------------------------------------------------


def test_child_resource_pool_edges(built):
    _, edges = built
    got = edge_set(edges, "CHILD_RESOURCE_POOL")
    assert got == {
        (k("vcenter1.example", "/DC1/ClusterA/Resources/prod/web"),
         k("vcenter1.example", "/DC1/ClusterA/Resources/prod")),
    }


def test_child_resource_of_edges(built):
    _, edges = built
    got = edge_set(edges, "CHILD_RESOURCE_OF")
    assert got == {
        (k("vcenter1.example", "/DC1/ClusterA/Resources/prod/web"),
         k("vcenter1.example", "/DC1/ClusterA/Resources/prod")),
        (k("vcenter1.example", "/DC1/ClusterB/Resources/dev/api"),
         k("vcenter1.example", "/DC1/ClusterB/Resources/dev")),
    }


def test_folder_hierarchy_and_dc_edges(built):
    _, edges = built
    in_folder = edge_set(edges, "IN_FOLDER")
    assert (k("vm-uuid-1", "uid-1"), "/DC1/Web") in in_folder
    assert (k("vm-uuid-3", "uid-1"), "/DC1/Web/Frontend") in in_folder
    assert ("/DC1/Web/Frontend", "/DC1/Web") in in_folder  # folder→parent
    dc = edge_set(edges, "LOCATED_IN_DC")
    assert ("/DC1/Web", k("DC1", "uid-1")) in dc  # rootless folder → DC
    assert ("/DC1/Solo", k("DC1", "uid-1")) in dc
    cl = edge_set(edges, "LOCATED_IN_CLUSTER")
    # vm2: RP exactly '/…/Resources' (no pool node) → VM → cluster
    assert (k("vm-uuid-2", "uid-1"), k("ClusterA", "uid-1")) in cl
    # vm5's pool has no parent pool → pool → cluster
    assert (k("vcenter2.example", "/DC2/ClusterC/Resources/test"), k("ClusterC", "uid-2")) in cl


def test_network_fanout(built):
    _, edges = built
    pg = edge_set(edges, "IN_PORTGROUP")
    vm1 = k("vm-uuid-1", "uid-1")
    # vm1: #1 PG-Web, #2 PG-DB, #3/#4 null → 'Not Configured'
    assert (vm1, k("PG-Web", "uid-1")) in pg
    assert (vm1, k("PG-DB", "uid-1")) in pg
    assert (vm1, k("Not Configured", "uid-1")) in pg
    # adapter-level portgroup join (vNetwork): PG-Web@esx1 hit, PG-Missing not
    assert (k("00:50:56:aa:bb:01", "vm-uuid-1"), k("PG-Web", "esx1.example", "uid-1")) in pg
    assert not any(s == k("00:50:56:aa:bb:02", "vm-uuid-1") for s, _ in pg)


def test_jumboframes_theta_join(built):
    _, edges = built
    jumbo = edge_set(edges, "HAS_JUMBO_FRAMES")
    assert jumbo == {(k("vSwitch0", "esx1.example"), "enabled")}  # only MTU 9000


def test_domain_two_hop_drops_unseeded(built):
    _, edges = built
    dom = edge_set(edges, "OF_DOMAIN")
    srcs = {s for s, _ in dom}
    assert k("host-2", "uid-1") not in srcs  # other.example not seeded
    assert {k("host-1", "uid-1"), k("host-3", "uid-1"), k("host-4", "uid-2")} <= srcs
    comp = edge_set(edges, "ESX_HOST_FOR")
    assert (k("host-1", "uid-1"), "Acme Corp") in comp


def test_seedless_ingest_never_merges_whole_edge_table(spark, monkeypatch):
    """Ingest stages read a hop through ``edge_pairs`` only: a seedless
    build of workbook A completes with ``GraphStore.edges`` raising."""
    from vmware_graph_spark.store.graph import GraphStore

    def _no_merge(self):
        raise AssertionError("an ingest stage merged the whole edge table")

    monkeypatch.setattr(GraphStore, "edges", _no_merge)
    store = run_ingest(spark, fixtures.workbook(spark, "A"))
    assert store.vertices("Vspherehost").count() == 4


def test_domain_hop_reads_only_domain_company_pairs(spark, built):
    """The domain tail's hop is (cd:Clientdomain)--(co:Company): a
    seeded domain whose only Company edge has a null key stays
    unmatched (the edge merge drops that edge), and an ``OF_COMPANY``
    edge between two other labels is no hop."""
    _, edges = built
    seeds = fixtures.seeds(spark)
    seeds["clientdomain"] = seeds["clientdomain"].union(
        spark.createDataFrame([("other.example",)], ["name"])
    )
    seeds["seed_edges"] = seeds["seed_edges"].union(
        spark.createDataFrame(
            [("Clientdomain", "other.example", "OF_COMPANY", "Company", None),
             ("Vcenterserver", "Globex", "OF_COMPANY", "Vfolder", "corp.example")],
            "src_label string, src_key string, rel_type string, "
            "dst_label string, dst_key string",
        )
    )
    store = run_ingest(spark, fixtures.workbook(spark, "A"), seeds)
    got = {
        (r.src_label, r.src_key, r.rel_type, r.dst_label, r.dst_key)
        for r in store.edges().collect()
    }
    for rel in ("OF_DOMAIN", "ESX_HOST_FOR"):
        assert edge_set(got, rel) == edge_set(edges, rel), rel


def test_datastore_host_explode_trim(built):
    _, edges = built
    conn = edge_set(edges, "CONNECTED_DATASTORE")
    assert conn == {
        (k("host-1", "uid-1"), "ds:///vmfs/volumes/aaa/"),
        (k("host-2", "uid-1"), "ds:///vmfs/volumes/aaa/"),  # ' esx2.example' trimmed
        (k("host-4", "uid-2"), "ds:///vmfs/volumes/bbb/"),
    }


def test_vdisk_path_parse_and_qualified_join(built):
    _, edges = built
    ds = edge_set(edges, "ON_DATASTORE")
    # d1: '[DS-A] …' and DS-A connected to esx1 → edge; d2: DS-C not
    # connected to esx1 → J5 existence join fails → no edge.
    # ON_DATASTORE is undirected-merged → canonical endpoint order is
    # (Vdatastore, Virtualdisk) by label sort.
    assert ds == {("ds:///vmfs/volumes/aaa/", "[DS-A] web01/web01.vmdk")}
    vdisk = edge_set(edges, "VDISK_FOR_VM")
    assert ("[DS-C] db01/db01.vmdk", k("vm-uuid-2", "uid-1")) in vdisk  # node+edge exist


def test_hw_version_edges(built):
    _, edges = built
    hw = edge_set(edges, "HW_VERSION")
    assert (k("vm-uuid-1", "uid-1"), "14") in hw
    assert (k("vm-uuid-2", "uid-1"), "11") in hw


def _props_comparable(df):
    """Map columns can't go through set operations; compare props as
    their sorted entry arrays."""
    return df.withColumn("props", F.array_sort(F.map_entries("props")))


def test_hw_version_edge_props_written_and_reread(built, spark, tmp_path):
    """The one reference edge property (HW_VERSION.upgradestatus,
    refresh-vmware.cypher:187,212) is first-class: packed at ingest,
    persisted by write(), restored by read() — round-2 VERDICT #1.
    ``read`` serves the written edge table as-is (no re-merge): its
    ``edges()`` and ``edges_with_props()`` hold exactly the in-memory
    store's rows, undirected types included."""
    from vmware_graph_spark.store.graph import UNDIRECTED_TYPES, GraphStore

    store, _ = built
    path = str(tmp_path / "snap_props")
    store.write(path)
    back = GraphStore.read(spark, path)
    hw = {
        (r.src_key, r.props.get("upgradestatus"))
        for r in back.edges_with_props().filter(F.col("rel_type") == "HW_VERSION").collect()
    }
    assert (k("vm-uuid-2", "uid-1"), "Pending") in hw
    assert (k("vm-uuid-1", "uid-1"), "none") in hw
    # prop-less edges round-trip with an EMPTY map, not null
    bare = back.edges_with_props().filter(F.col("rel_type") == "IN_FOLDER").first()
    assert bare.props == {}

    mem, disk = store.edges(), back.edges()
    assert disk.filter(F.col("rel_type").isin(*UNDIRECTED_TYPES)).count() > 0
    assert mem.exceptAll(disk).count() == 0 and disk.exceptAll(mem).count() == 0
    mem_p = _props_comparable(store.edges_with_props())
    disk_p = _props_comparable(back.edges_with_props())
    assert mem_p.exceptAll(disk_p).count() == 0
    assert disk_p.exceptAll(mem_p).count() == 0


def test_read_store_add_edges_still_merges(spark, tmp_path):
    """A store built from a read snapshot keeps full MERGE semantics: a
    duplicate edge and a reversed undirected edge collapse into the
    published rows, and a re-asserted edge property is last-writer-wins."""
    from vmware_graph_spark.store.graph import EDGE_SCHEMA, GraphStore

    cols = ["src_label", "src_key", "rel_type", "dst_label", "dst_key"]
    s1 = GraphStore(spark)
    s1.add_edges(spark.createDataFrame(
        [("Vdatastore", "ds1", "ON_DATASTORE", "Virtualdisk", "d1")], cols
    ))
    s1.add_edges(spark.createDataFrame(
        [("Virtualmachine", "vm1", "HW_VERSION", "Vhwver", "14", "Pending")],
        cols + ["upgradestatus"],
    ))
    path = str(tmp_path / "snap")
    s1.write(path)

    back = GraphStore.read(spark, path)
    back.add_edges(spark.createDataFrame(
        [("Virtualdisk", "d1", "ON_DATASTORE", "Vdatastore", "ds1")], EDGE_SCHEMA
    ))
    back.add_edges(spark.createDataFrame(
        [("Virtualmachine", "vm1", "HW_VERSION", "Vhwver", "14", "Done")],
        cols + ["upgradestatus"],
    ))
    assert {tuple(r) for r in back.edges().collect()} == {
        ("Vdatastore", "ds1", "ON_DATASTORE", "Virtualdisk", "d1"),
        ("Virtualmachine", "vm1", "HW_VERSION", "Vhwver", "14"),
    }
    props = {r.rel_type: r.props for r in back.edges_with_props().collect()}
    assert props == {"ON_DATASTORE": {}, "HW_VERSION": {"upgradestatus": "Done"}}


def test_all_vertex_keys_equal_node_key(spark, tmp_path):
    """The one-statement ``all_vertex_keys`` gives ``node_key`` per
    label — including NULL for a composite key with a null component."""
    import os

    from vmware_graph_spark import commit
    from vmware_graph_spark.store.graph import (
        EDGE_SCHEMA_PROPS,
        LABEL_KEYS,
        SNAPSHOT_MARK,
        GraphStore,
        node_key,
    )

    path = str(tmp_path / "snap")
    vdir = os.path.join(path, "vertices")
    labels = {
        "Vcenterserver": "uid string",
        "Vcentercluster": "name string, managedby string, ha string",
    }
    spark.createDataFrame([("vc1",), ("vc2",)], labels["Vcenterserver"]).write.parquet(
        os.path.join(vdir, "Vcenterserver")
    )
    spark.createDataFrame(
        [("c1", "vc1", "x"), ("c2", None, "y")], labels["Vcentercluster"]
    ).write.parquet(os.path.join(vdir, "Vcentercluster"))
    spark.createDataFrame([], EDGE_SCHEMA_PROPS).write.parquet(os.path.join(path, "edges"))
    # a hand-built snapshot commits like write(): its tables, then a
    # marker naming each label's schema and the graph's counts
    counts = {"edges": 0, "v:Vcenterserver": 2, "v:Vcentercluster": 2}
    commit.mark(path, {**SNAPSHOT_MARK, "labels": labels, "counts": counts})
    store = GraphStore.read(spark, path)

    got = store.all_vertex_keys()
    want = None
    for label in store.labels():
        part = store.vertices(label).select(
            F.lit(label).alias("label"), node_key(*LABEL_KEYS[label]).alias("key")
        )
        want = part if want is None else want.unionByName(part)
    assert got.columns == ["label", "key"]
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert {(r.label, r.key) for r in got.collect()} == {
        ("Vcenterserver", "vc1"),
        ("Vcenterserver", "vc2"),
        ("Vcentercluster", k("c1", "vc1")),
        ("Vcentercluster", None),
    }


def test_add_edges_projects_one_rel_and_explodes_many(spark):
    """``_add_edges``: one rel is a plain projection, a fan sharing its
    source is ONE explode with the source projected outside it, a fan
    of several sources carries them inside, a NULL ``CASE`` key drops
    the edge, and an ``extra`` column lands in ``props``."""
    from vmware_graph_spark.ingest.stages import _add_edges
    from vmware_graph_spark.store.graph import GraphStore, _key_sql

    df = spark.createDataFrame(
        [("a", "x", "1"), ("b", None, "2")], "id string, dim string, n string"
    )
    store = GraphStore(spark, checkpoint=False)
    vm = ("Vm", _key_sql("id"))

    def plan():
        return store._edge_batches[-1]._jdf.queryExecution().optimizedPlan().toString()

    _add_edges(store, df, (*vm, "HAS_N", "Num", _key_sql("n")), extra=["n AS qty"])
    assert "Generate" not in plan()
    _add_edges(
        store, df,
        (*vm, "R1", "D1", _key_sql("dim")),
        (*vm, "R2", "D2", _key_sql("n")),
        (*vm, "R3", "D3", "CASE WHEN n <> '1' THEN concat(id, 'c') END"),
    )
    gen = [line for line in plan().splitlines() if "Generate" in line]
    assert len(gen) == 1 and "R3" in gen[0]
    assert "Vm" not in gen[0] and "sl," not in gen[0]
    _add_edges(
        store, df,
        (*vm, "R4", "D4", _key_sql("n")),
        ("N", _key_sql("n"), "R5", "Vm", _key_sql("id")),
    )
    gen = [line for line in plan().splitlines() if "Generate" in line]
    assert len(gen) == 1 and "Vm" in gen[0] and "sl," in gen[0]

    assert {tuple(r) for r in store.edges().collect()} == {
        ("Vm", "a", "HAS_N", "Num", "1"),
        ("Vm", "b", "HAS_N", "Num", "2"),
        ("Vm", "a", "R1", "D1", "x"),
        ("Vm", "a", "R2", "D2", "1"),
        ("Vm", "b", "R2", "D2", "2"),
        ("Vm", "b", "R3", "D3", "bc"),
        ("Vm", "a", "R4", "D4", "1"),
        ("Vm", "b", "R4", "D4", "2"),
        ("N", "1", "R5", "Vm", "a"),
        ("N", "2", "R5", "Vm", "b"),
    }
    props = {
        (r.rel_type, r.src_key): r.props
        for r in store.edges_with_props().collect()
        if r.props
    }
    assert props == {("HAS_N", "a"): {"qty": "1"}, ("HAS_N", "b"): {"qty": "2"}}


def test_vinfo_stage_py4j_round_trips_bounded(spark, monkeypatch):
    """Plan construction of the vInfo stage, counted as driver→JVM
    round trips at the py4j seam perfbench traces, stays bounded: the
    stage builds its plans from SQL strings, not Column chains (whose
    every call is a round trip)."""
    from py4j.java_gateway import GatewayClient

    from tests.conftest import SF_SMALL
    from vmware_graph_spark.ingest.stages import STAGES, stage_vinfo_vms
    from vmware_graph_spark.queries import _workbook
    from vmware_graph_spark.store.graph import GraphStore

    sheets = _workbook(spark, SF_SMALL)
    store = GraphStore(spark)
    for stage in STAGES[: STAGES.index(stage_vinfo_vms)]:
        stage(store, sheets)
    calls = []
    send = GatewayClient.send_command

    def counting(client, *a, **kw):
        calls.append(1)
        return send(client, *a, **kw)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    stage_vinfo_vms(store, sheets)
    monkeypatch.undo()
    assert 0 < len(calls) <= 1200, len(calls)


def test_esx_version_build_split(built):
    store, edges = built
    builds = {r.build for r in store.vertices("Vsphereesxbuild").collect()}
    assert builds == {"15160138", "20328353"}
    bo = edge_set(edges, "BUILD_OF")
    assert ("15160138", "VMware ESXi 6.7.0") in bo
    assert ("14836122", "VMware vCenter Server 6.7.0") in bo  # vCenter build


# -- protocol tests --------------------------------------------------------


@pytest.fixture(scope="module")
def refreshed(spark, built):
    store_a, _ = built
    sheets_prime = fixtures.workbook(spark, "Aprime")
    return refresh(spark, sheets_prime, fixtures.seeds(spark), prev=store_a)


def test_refresh_idempotent(spark, built):
    store_a, edges_a = built
    result = refresh(spark, fixtures.workbook(spark, "A"), fixtures.seeds(spark), prev=store_a)
    assert result.orphans.count() == 0
    edges_again = {
        (r.src_label, r.src_key, r.rel_type, r.dst_label, r.dst_key)
        for r in result.store.edges().collect()
    }
    assert edges_again == edges_a
    for label in store_a.labels():
        assert result.store.vertices(label).count() == store_a.vertices(label).count(), label


def test_sweep_removes_exactly_the_dropped_entities(refreshed):
    orphans = {(r.label, r.key) for r in refreshed.orphans.collect()}
    assert orphans == {
        ("Vspherehost", k("host-3", "uid-1")),
        ("Virtualmachine", k("vm-uuid-2", "uid-1")),
        ("Vdatastore", "ds:///vmfs/volumes/ccc/"),
    }


def test_sweep_final_state(refreshed):
    store = refreshed.store
    hosts = {r.objid for r in store.vertices("Vspherehost").collect()}
    assert hosts == {"host-1", "host-2", "host-4"}
    vms = {r.uuid for r in store.vertices("Virtualmachine").collect()}
    assert "vm-uuid-2" not in vms and "vm-uuid-7" in vms
    urls = {r.url for r in store.vertices("Vdatastore").collect()}
    assert "ds:///vmfs/volumes/ccc/" not in urls


def test_sweep_edges_and_unmanaged_nodes(refreshed):
    """Edges incident to swept nodes die; label tables without a
    managedby column (Virtualdisk, dims) keep stale nodes EDGE-less —
    same observable state as the reference's mark (which can only see
    n.managedby) + relationship delete."""
    store = refreshed.store
    edges = {
        (r.src_label, r.src_key, r.rel_type, r.dst_label, r.dst_key)
        for r in store.edges().collect()
    }
    gone = {k("host-3", "uid-1"), k("vm-uuid-2", "uid-1"), "ds:///vmfs/volumes/ccc/"}
    assert not any(s in gone or d in gone for (_, s, _, _, d) in edges)
    # vm-2's disk node survives (no managedby) but is edge-less
    disks = {r.path for r in store.vertices("Virtualdisk").collect()}
    assert "[DS-C] db01/db01.vmdk" in disks
    assert not any(s == "[DS-C] db01/db01.vmdk" for (_, s, _, _, _) in edges)
    # dim node from host-3's NTP entry survives, its USES_NTP edge died
    # (Ntpserver has no managedby — never swept)
    assert not any(r == "USES_NTP" and s == k("host-3", "uid-1") for (_, s, r, _, _) in edges)


def test_tenant_scoping_other_tenant_untouched(refreshed):
    """uid-2's graph must be byte-identical through a refresh that only
    changed uid-1 entities."""
    store = refreshed.store
    vms2 = {r.uuid for r in store.vertices("Virtualmachine").collect() if r.managedby == "uid-2"}
    assert vms2 == {"vm-uuid-5"}
    hosts2 = {r.objid for r in store.vertices("Vspherehost").collect() if r.managedby == "uid-2"}
    assert hosts2 == {"host-4"}


def _two_step_edges(spark, prev, curr, tenants):
    """The refreshed edge table built as two merges: prev's merged edges
    minus every edge incident to a marked node, then curr's merged
    edges added after them."""
    from vmware_graph_spark.operators.snapshot import sweep_edges
    from vmware_graph_spark.store.graph import LABEL_KEYS, GraphStore, node_key

    marked = spark.createDataFrame([], "label string, key string")
    for label in prev.labels():
        v = prev.vertices(label)
        if "managedby" in v.columns:
            marked = marked.unionByName(
                v.filter(F.col("managedby").isin(tenants)).select(
                    F.lit(label).alias("label"), node_key(*LABEL_KEYS[label]).alias("key")
                )
            )
    ref = GraphStore(spark)
    ref.add_edges(sweep_edges(prev.edges_with_props(), marked))
    ref.add_edges(curr.edges_with_props())
    return ref.edges_with_props()


def _edge_rows(df):
    return {
        (r.src_label, r.src_key, r.rel_type, r.dst_label, r.dst_key, tuple(sorted(r.props.items())))
        for r in df.collect()
    }


def test_refresh_edges_equal_two_step_merge(spark, built, refreshed):
    """One ordered merge over [swept prev batches, curr batches] gives
    the edge table of merging curr first and that result after prev."""
    store_a, _ = built
    curr = run_ingest(spark, fixtures.workbook(spark, "Aprime"), fixtures.seeds(spark))
    ref = _two_step_edges(spark, store_a, curr, ["uid-1"])
    got = _edge_rows(refreshed.store.edges_with_props())
    assert got == _edge_rows(ref)
    assert any(props for *_, props in got)


def _vm_store(spark, vms, edge_batches):
    """A built store: Virtualmachine rows (uuid, managedby) plus one
    HW_VERSION edge batch per (vm uuid, managedby, upgradestatus) list,
    every label already flushed."""
    from vmware_graph_spark.store.graph import GraphStore

    store = GraphStore(spark)
    store.upsert_nodes(
        "Virtualmachine", spark.createDataFrame(vms, "uuid string, managedby string")
    )
    for batch in edge_batches:
        store.add_edges(
            spark.createDataFrame(
                [("Virtualmachine", k(u, m), "HW_VERSION", "Vhwver", "14", s) for u, m, s in batch],
                "src_label string, src_key string, rel_type string, dst_label string, "
                "dst_key string, upgradestatus string",
            )
        )
    for label in store.labels():
        store.vertices(label)
    return store


def _small_refresh_case(spark):
    """prev asserts vm-1's and vm-4's edge prop in two of its three
    batches, the later with the smaller value, and holds an edge of the
    marked vm-2; curr re-asserts vm-2 edge-less, drops vm-3, overrides
    vm-1's prop with a smaller value and leaves vm-4's alone (vm-1 and
    vm-4 are uid-2's, so never marked)."""
    prev = _vm_store(
        spark,
        [("vm-1", "uid-2"), ("vm-2", "uid-1"), ("vm-3", "uid-1"), ("vm-4", "uid-2")],
        [
            [("vm-1", "uid-2", "Pending"), ("vm-2", "uid-1", "Pending"),
             ("vm-4", "uid-2", "Pending")],
            [("vm-1", "uid-2", "Done")],
            [("vm-4", "uid-2", "Done")],
        ],
    )
    curr = _vm_store(spark, [("vm-2", "uid-1")], [[("vm-1", "uid-2", "Alpha")]])
    sheets = {"vCluster": spark.createDataFrame([("uid-1",)], "`VI SDK UUID` string")}
    return prev, curr, sheets


def test_refresh_prop_override_equals_two_step_merge(spark, monkeypatch):
    """A prop prev asserted in two batches is overridden by curr's
    later, smaller value; on an edge curr does not re-assert, prev's
    later, smaller value wins (the swept prev union keeps each batch's
    order); the marked vm-2's prev edge is swept."""
    refresh_mod = importlib.import_module("vmware_graph_spark.ingest.refresh")
    prev, curr, sheets = _small_refresh_case(spark)
    monkeypatch.setattr(refresh_mod, "run_ingest", lambda *a, **kw: curr)
    res = refresh_mod.refresh(spark, sheets, prev=prev)
    got = _edge_rows(res.store.edges_with_props())
    assert got == _edge_rows(_two_step_edges(spark, prev, curr, ["uid-1"]))
    assert got == {
        ("Virtualmachine", k("vm-1", "uid-2"), "HW_VERSION", "Vhwver", "14", (("upgradestatus", "Alpha"),)),
        ("Virtualmachine", k("vm-4", "uid-2"), "HW_VERSION", "Vhwver", "14", (("upgradestatus", "Done"),)),
    }


def test_refresh_sweeps_multi_batch_prev_once(spark, monkeypatch):
    """An in-memory prev's three edge batches are swept as one union:
    the refreshed edge union's optimized plan holds the sweep's two
    joins, not two per prev batch (a LeftAnti join would be pushed into
    every union branch)."""
    refresh_mod = importlib.import_module("vmware_graph_spark.ingest.refresh")
    prev, curr, sheets = _small_refresh_case(spark)
    assert len(prev._edge_batches) == 3
    monkeypatch.setattr(refresh_mod, "run_ingest", lambda *a, **kw: curr)
    res = refresh_mod.refresh(spark, sheets, prev=prev)
    plan = res.store._union_edge_batches()._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join ") == 2 and plan.count("Join LeftOuter") == 2, plan


def _group_jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; return (its result, the
    ids of the Spark jobs it submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_refresh_orphans_only_runs_tenant_collect_only(spark, monkeypatch):
    """Callers that read only ``orphans`` pay no edge work: on built
    stores ``refresh`` submits one job, the tenant collect (the list is
    de-duplicated on the driver, so no shuffle-map job runs). The
    result is a plain dataclass."""
    refresh_mod = importlib.import_module("vmware_graph_spark.ingest.refresh")
    prev, curr, sheets = _small_refresh_case(spark)
    monkeypatch.setattr(refresh_mod, "run_ingest", lambda *a, **kw: curr)
    _, collect_jobs = _group_jobs(
        spark,
        "tenant-collect",
        lambda: sheets["vCluster"].select("VI SDK UUID").collect(),
    )
    res, refresh_jobs = _group_jobs(
        spark, "refresh-orphans-only", lambda: refresh_mod.refresh(spark, sheets, prev=prev)
    )
    assert len(refresh_jobs) == len(collect_jobs) == 1
    assert {(r.label, r.key) for r in res.orphans.collect()} == {
        ("Virtualmachine", k("vm-3", "uid-1"))
    }
    assert res == refresh_mod.RefreshResult(res.store, res.orphans)


def test_read_workbook_dir_mixed_formats(spark, tmp_path):
    """S1 workbook reader: parquet preferred, CSV arrives all-string
    (the apoc.load.xls value model), absent sheets skipped."""
    from vmware_graph_spark.sources.workbook import read_workbook_dir

    wb = tmp_path / "wb"
    wb.mkdir()
    spark.createDataFrame(
        [("c1", "vc-1", "3")], ["Name", "VI SDK UUID", "NumHosts"]
    ).write.parquet(str(wb / "vCluster.parquet"))
    (wb / "vHost.csv").write_text("Host,Cluster,# CPU\nh1,c1,16\n")

    sheets = read_workbook_dir(spark, str(wb))
    assert set(sheets) == {"vCluster", "vHost"}
    host = sheets["vHost"]
    assert [f.dataType.simpleString() for f in host.schema.fields] == ["string"] * 3
    assert host.collect()[0]["# CPU"] == "16"


def _write_minimal_xlsx(path, sheets):
    """Test-only OOXML writer: hand-rolled zip with workbook.xml, rels,
    sharedStrings and one sheetN.xml per sheet — enough surface to
    exercise every branch of the stdlib reader (shared strings, inline
    strings, numeric cells, booleans, SKIPPED cells re-aligned from A1
    refs)."""
    import zipfile

    def col_letter(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(ord("A") + r) + s
        return s

    shared: list[str] = []

    def cell(ci, ri, v):
        ref = f"{col_letter(ci)}{ri}"
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        if v.startswith("inline:"):
            return f'<c r="{ref}" t="inlineStr"><is><t>{v[7:]}</t></is></c>'
        if v not in shared:
            shared.append(v)
        return f'<c r="{ref}" t="s"><v>{shared.index(v)}</v></c>'

    sheet_xmls = {}
    for idx, (name, rows) in enumerate(sheets.items(), start=1):
        body = "".join(
            '<row r="%d">%s</row>'
            % (ri, "".join(cell(ci, ri, v) for ci, v in enumerate(row) if v is not None))
            for ri, row in enumerate(rows, start=1)
        )
        sheet_xmls[f"xl/worksheets/sheet{idx}.xml"] = (
            '<?xml version="1.0"?><worksheet xmlns='
            '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f"<sheetData>{body}</sheetData></worksheet>"
        )
    wb_sheets = "".join(
        f'<sheet name="{n}" sheetId="{i}" r:id="rId{i}"/>'
        for i, n in enumerate(sheets, start=1)
    )
    rels = "".join(
        f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" '
        f'Target="worksheets/sheet{i}.xml"/>'
        for i in range(1, len(sheets) + 1)
    )
    sst = "".join(f"<si><t>{s}</t></si>" for s in shared)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/'
            f'officeDocument/2006/relationships"><sheets>{wb_sheets}</sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.'
            f'org/package/2006/relationships">{rels}</Relationships>',
        )
        zf.writestr(
            "xl/sharedStrings.xml",
            '<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/'
            f'spreadsheetml/2006/main">{sst}</sst>',
        )
        for member, xml in sheet_xmls.items():
            zf.writestr(member, xml)


def test_read_workbook_xlsx_stdlib_reader(spark, tmp_path):
    """A genuine .xlsx loads WITHOUT openpyxl: the stdlib OOXML reader
    handles shared strings, inline strings, numerics, booleans and
    sparse rows (round-2 VERDICT: the xlsx path must not be the first
    thing a real user hits)."""
    from vmware_graph_spark.sources.workbook import read_workbook_xlsx

    p = str(tmp_path / "rv.xlsx")
    _write_minimal_xlsx(
        p,
        {
            "vCluster": [
                ["Name", "VI SDK UUID", "NumHosts", "HA enabled"],
                ["ClusterA", "uid-1", 3, True],
                # sparse row: NumHosts cell omitted entirely
                ["ClusterB", "inline:uid-2", None, False],
            ],
            "vHost": [["Host", "# CPU"], ["esx1.example", 16]],
        },
    )
    sheets = read_workbook_xlsx(spark, p)
    assert set(sheets) == {"vCluster", "vHost"}
    rows = {r["Name"]: r for r in sheets["vCluster"].collect()}
    assert rows["ClusterA"]["NumHosts"] == "3"
    assert rows["ClusterA"]["HA enabled"] == "True"
    assert rows["ClusterB"]["VI SDK UUID"] == "uid-2"  # inlineStr branch
    assert rows["ClusterB"]["NumHosts"] is None  # skipped cell realigned
    assert rows["ClusterB"]["HA enabled"] == "False"
    assert sheets["vHost"].collect()[0]["# CPU"] == "16"


def test_read_xlsx_many_distributed(spark, tmp_path):
    """Fleet path: one sheet across many workbooks via binaryFile +
    mapInPandas, schema declared up front, per-file provenance column,
    missing columns null."""
    from vmware_graph_spark.sources.workbook import read_xlsx_many

    for i in (1, 2):
        _write_minimal_xlsx(
            str(tmp_path / f"vc{i}.xlsx"),
            {"vCluster": [["Name", "VI SDK UUID"], [f"Cluster{i}", f"uid-{i}"]]},
        )
    df = read_xlsx_many(
        spark,
        str(tmp_path / "*.xlsx"),
        "vCluster",
        ("Name", "VI SDK UUID", "NotInFile"),
    )
    rows = sorted(df.collect(), key=lambda r: r["Name"])
    assert [r["Name"] for r in rows] == ["Cluster1", "Cluster2"]
    assert rows[0]["VI SDK UUID"] == "uid-1"
    assert rows[0]["NotInFile"] is None
    assert rows[0]["_workbook"].endswith("vc1.xlsx")


def test_read_xlsx_many_all_single_pass(spark, tmp_path):
    """Round-9 fleet path: ALL sheets of every workbook from one scan
    + one zip parse per workbook, rows sheet-tagged with a
    non-null-cells map; fleet_sheet projects a sheet back onto a
    declared column tuple (missing columns null, provenance kept) —
    equal rows to the per-sheet reader."""
    from vmware_graph_spark.sources.workbook import (
        fleet_sheet,
        read_xlsx_many,
        read_xlsx_many_all,
    )

    for i in (1, 2):
        _write_minimal_xlsx(
            str(tmp_path / f"vc{i}.xlsx"),
            {
                "vCluster": [["Name", "VI SDK UUID"], [f"Cluster{i}", f"uid-{i}"]],
                "vHost": [["Host", "# CPU"], [f"esx{i}", 16], [f"esx{i}b", None]],
            },
        )
    decoded = read_xlsx_many_all(
        spark, str(tmp_path / "*.xlsx"), sheets=("vCluster", "vHost")
    )
    rows = decoded.collect()
    assert {r["_sheet"] for r in rows} == {"vCluster", "vHost"}
    assert len(rows) == 2 + 4  # 1 vCluster + 2 vHost rows per workbook
    # None cells are absent from the map, not null-valued entries
    sparse = [r for r in rows if r["_sheet"] == "vHost" and "# CPU" not in r["row"]]
    assert len(sparse) == 2

    proj = fleet_sheet(decoded, "vCluster", ("Name", "VI SDK UUID", "NotInFile"))
    got = sorted(proj.collect(), key=lambda r: r["Name"])
    via_many = sorted(
        read_xlsx_many(
            spark, str(tmp_path / "*.xlsx"), "vCluster",
            ("Name", "VI SDK UUID", "NotInFile"),
        ).collect(),
        key=lambda r: r["Name"],
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in via_many]
    assert got[0]["NotInFile"] is None
    assert got[0]["_workbook"].endswith("vc1.xlsx")


def test_parse_xlsx_duplicate_headers_and_bad_refs(tmp_path):
    """ADVICE r3: duplicate sheet headers are suffixed pandas-style
    (name, name.1) so DataFrame schemas never carry duplicate columns,
    and a nonstandard A1 ref falls back to the positional index instead
    of crashing."""
    from vmware_graph_spark.sources.workbook import parse_xlsx

    import zipfile

    p = str(tmp_path / "dup.xlsx")
    _write_minimal_xlsx(
        p,
        {"vCluster": [["Name", "Name", "NumHosts"], ["A", "B", 3]]},
    )
    # inject a row whose cells carry nonstandard refs (no column letters)
    with zipfile.ZipFile(p) as zf:
        sheet = zf.read("xl/worksheets/sheet1.xml").decode()
    sheet = sheet.replace(
        "</sheetData>",
        '<row r="3"><c r="bogus" t="inlineStr"><is><t>C</t></is></c>'
        '<c r="also-bad" t="inlineStr"><is><t>D</t></is></c></row></sheetData>',
    )
    p2 = str(tmp_path / "dup2.xlsx")
    with zipfile.ZipFile(p) as src, zipfile.ZipFile(p2, "w") as dst:
        for m in src.namelist():
            dst.writestr(m, sheet if m == "xl/worksheets/sheet1.xml" else src.read(m))
    with open(p2, "rb") as f:
        header, body = parse_xlsx(f.read(), ("vCluster",))["vCluster"]
    assert header == ["Name", "Name.1", "NumHosts"]
    assert body[0] == ["A", "B", "3"]
    assert body[1] == ["C", "D", None]  # positional fallback, width-padded


def test_cli_refresh_end_to_end(spark, tmp_path):
    """python -m vmware_graph_spark refresh: full build, then a
    mark-and-sweep refresh with the A' workbook sweeps exactly the
    dropped entities (in-process main() against real dirs)."""
    import json

    from vmware_graph_spark.__main__ import main
    from tests.fixtures import workbook

    wb_a = str(tmp_path / "wbA")
    wb_a2 = str(tmp_path / "wbA2")
    snap = str(tmp_path / "snap")
    for path, variant in ((wb_a, "A"), (wb_a2, "Aprime")):
        sheets = workbook(spark, variant=variant)
        for name, df in sheets.items():
            df.coalesce(1).write.mode("overwrite").parquet(f"{path}/{name}.parquet")

    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["refresh", wb_a, snap]) == 0
    first = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert first["orphans_swept"] == 0 and first["edges"] > 0

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["refresh", wb_a2, snap]) == 0
    second = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert second["orphans_swept"] > 0  # A' drops entities → swept

    assert main(["bogus"]) == 2


def test_publish_swaps_snapshot_under_live_lineage(spark, tmp_path):
    """publish() must stay safe when the new graph's lineage still reads
    the previous snapshot at the same path — overwrite-in-place would
    delete input parquet files mid-scan (the rebuild-refresh shape)."""
    from vmware_graph_spark.store.graph import GraphStore

    path = str(tmp_path / "snap")
    s1 = GraphStore(spark)
    s1.upsert_nodes("Vcenterserver", spark.createDataFrame([("vc1",)], ["uid"]))
    s1.write(path)

    prev = GraphStore.read(spark, path)
    s2 = GraphStore(spark)
    s2.upsert_nodes(
        "Vcenterserver",
        prev.vertices("Vcenterserver").unionByName(
            spark.createDataFrame([("vc2",)], ["uid"])
        ),
    )
    s2.publish(path)  # lineage reads `path` while it is replaced

    out = GraphStore.read(spark, path)
    assert {r.uid for r in out.vertices("Vcenterserver").collect()} == {"vc1", "vc2"}
    # staging/backup dirs are cleaned up after the swap
    assert not (tmp_path / "snap.staging").exists()
    assert not (tmp_path / "snap.old").exists()


def test_publish_crash_between_renames_keeps_previous_graph(spark, tmp_path, monkeypatch):
    """A publish that dies after moving the live snapshot to ``.old`` but
    before staging takes its place must not lose the previous graph:
    ``read`` restores it, and the next publish completes cleanly."""
    import os

    from vmware_graph_spark.store import graph
    from vmware_graph_spark.store.graph import GraphStore

    path = str(tmp_path / "snap")
    s1 = GraphStore(spark)
    s1.upsert_nodes("Vcenterserver", spark.createDataFrame([("vc1",)], ["uid"]))
    s1.publish(path)

    real_rename = os.rename

    def crash_on_swap_in(src, dst):
        if src.endswith(".staging"):
            raise OSError("simulated crash between the publish renames")
        real_rename(src, dst)

    s2 = GraphStore(spark)
    s2.upsert_nodes("Vcenterserver", spark.createDataFrame([("vc2",)], ["uid"]))
    monkeypatch.setattr(graph.os, "rename", crash_on_swap_in)
    with pytest.raises(OSError, match="simulated crash"):
        s2.publish(path)
    monkeypatch.undo()
    assert not (tmp_path / "snap").exists()  # the crash window

    prev = GraphStore.read(spark, path)
    assert {r.uid for r in prev.vertices("Vcenterserver").collect()} == {"vc1"}

    s2.publish(path)
    out = GraphStore.read(spark, path)
    assert {r.uid for r in out.vertices("Vcenterserver").collect()} == {"vc2"}
    assert not (tmp_path / "snap.staging").exists()
    assert not (tmp_path / "snap.old").exists()


def test_edge_pairs_is_materialized_on_return(spark):
    """On a checkpointing store ``edge_pairs`` hands back an already
    materialized frame: a later action reads the checkpoint blocks in
    one single-stage job instead of re-running the edge-batch union and
    its distinct (write() fans out over plans that share this frame)."""
    from vmware_graph_spark.store.graph import GraphStore

    store = GraphStore(spark)
    store.add_edges(
        spark.createDataFrame(
            [("Vswitch", "s1", "ON_HOST", "Vspherehost", "h1"),
             ("Vspherehost", "h2", "ON_HOST", "Vswitch", "s2"),
             ("Vswitch", "s1", "ON_HOST", "Vspherehost", "h1")],
            ["src_label", "src_key", "rel_type", "dst_label", "dst_key"],
        )
    )
    pairs = store.edge_pairs("Vswitch", "Vspherehost")

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "edge-pairs-materialized"
    sc.setJobGroup(group, "action on edge_pairs output")
    try:
        rows = pairs.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert {(r.a_key, r.b_key) for r in rows} == {("s1", "h1"), ("s2", "h2")}
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1


def _small_snapshot_store(spark):
    from vmware_graph_spark.store.graph import GraphStore

    store = GraphStore(spark)
    store.upsert_nodes("Vcenterserver", spark.createDataFrame([("vc1",)], ["uid"]))
    store.upsert_nodes(
        "Vcentercluster", spark.createDataFrame([("c1", "vc1")], ["name", "managedby"])
    )
    store.add_edges(spark.createDataFrame(
        [("Vcentercluster", k("c1", "vc1"), "CONTROLLED_BY_VC", "Vcenterserver", "vc1")],
        ["src_label", "src_key", "rel_type", "dst_label", "dst_key"],
    ))
    return store


def test_write_and_read_jobs_keep_callers_job_group(spark, tmp_path):
    """The concurrent label writes and opens run on pool threads; every
    Spark job they submit still carries the caller's job group."""
    from vmware_graph_spark.store.graph import GraphStore

    store = _small_snapshot_store(spark)
    path = str(tmp_path / "snap")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    group = "snapshot-write-read"
    sc.setJobGroup(group, "write + read a snapshot")
    try:
        store.write(path)
        GraphStore.read(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(tracker.getJobIdsForGroup(group)) >= 3  # 2 label writes + edges
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()


def test_read_submits_no_jobs(spark, tmp_path):
    """``read`` opens every table by the schema recorded for it (the
    labels' in the commit marker, the edges' fixed), so it plans only
    and submits no Spark job: no per-label schema inference."""
    from vmware_graph_spark.store.graph import GraphStore

    path = str(tmp_path / "snap")
    _small_snapshot_store(spark).write(path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "snapshot-read"
    sc.setJobGroup(group, "read a written snapshot")
    try:
        back = GraphStore.read(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup(group) == []
    assert back.labels() == ["Vcentercluster", "Vcenterserver"]


def test_read_label_schemas_equal_parquet_inference(built, spark, tmp_path):
    """Every label of the workbook-A graph opens with the schema parquet
    inference would give its directory."""
    import os

    from vmware_graph_spark.store.graph import GraphStore

    store, _ = built
    path = str(tmp_path / "snap")
    store.write(path)
    back = GraphStore.read(spark, path)
    assert back.labels() == store.labels()
    for label in back.labels():
        inferred = spark.read.parquet(os.path.join(path, "vertices", label)).schema
        assert back.vertices(label).schema == inferred, label


def test_rewrite_to_same_path_drops_labels_it_lacks(spark, tmp_path):
    """``read`` serves the labels of the last ``write`` to a path. A
    label only an earlier write held is neither read nor left on disk."""
    import os

    from vmware_graph_spark.store.graph import GraphStore

    path = str(tmp_path / "snap")
    _small_snapshot_store(spark).write(path)
    smaller = GraphStore(spark)
    smaller.upsert_nodes("Vcenterserver", spark.createDataFrame([("vc2",)], ["uid"]))
    smaller.write(path)
    back = GraphStore.read(spark, path)
    assert back.labels() == ["Vcenterserver"]
    assert [r.uid for r in back.vertices("Vcenterserver").collect()] == ["vc2"]
    assert not os.path.exists(os.path.join(path, "vertices", "Vcentercluster"))


def test_read_refuses_version_1_snapshot(spark, tmp_path):
    """A version-1 marker records no schemas, a version-2 marker no
    counts. ``read`` refuses both, naming the path, rather than
    inferring or recounting them."""
    import re

    from vmware_graph_spark import commit
    from vmware_graph_spark.store.graph import GraphStore

    path = str(tmp_path / "snap")
    _small_snapshot_store(spark).write(path)
    labels = commit.read_mark(path, "graph snapshot")["labels"]
    for old in ({"version": 1}, {"version": 2, "labels": labels}):
        commit.mark(path, {"kind": "graph-snapshot", **old})
        with pytest.raises(ValueError, match=re.escape(path) + ".*rebuild"):
            GraphStore.read(spark, path)


def _described_jobs(spark) -> list[str]:
    """Every job description in the driver's status store."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    descs = (jobs.apply(i).description() for i in range(jobs.length()))
    return [d.get() for d in descs if d.isDefined()]


def test_write_jobs_described_by_their_label(spark, tmp_path):
    """Each concurrent ``write`` task names its work as the Spark job
    description: ``write <Label>`` per label, ``write edges``."""
    store = _small_snapshot_store(spark)
    store.write(str(tmp_path / "snap"))
    descs = set(_described_jobs(spark))
    for work in ("write edges", *(f"write {lb}" for lb in store.labels())):
        assert work in descs, (work, sorted(descs)[-20:])


def test_counts_on_read_store_come_from_marker(spark, tmp_path):
    """``counts()`` on a store unchanged since ``read`` answers from the
    counts ``write`` recorded, with no Spark job, and they equal a
    recount. Any ``upsert_nodes`` or ``add_edges`` recounts."""
    from vmware_graph_spark.store.graph import GraphStore

    path = str(tmp_path / "snap")
    store = _small_snapshot_store(spark)
    store.write(path)
    want = {"edges": 1, "v:Vcentercluster": 1, "v:Vcenterserver": 1}
    assert store.counts() == want  # the in-memory store recounts
    sc = spark.sparkContext
    group = "snapshot-counts"
    sc.setJobGroup(group, "counts of a read snapshot")
    try:
        assert GraphStore.read(spark, path).counts() == want
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    upserted = GraphStore.read(spark, path)
    upserted.upsert_nodes("Vcenterserver", spark.createDataFrame([("vc2",)], ["uid"]))
    assert upserted.counts() == {**want, "v:Vcenterserver": 2}
    added = GraphStore.read(spark, path)
    added.add_edges(spark.createDataFrame(
        [("Vcentercluster", k("c1", "vc1"), "IN_DC", "Vcenterserver", "vc1")],
        ["src_label", "src_key", "rel_type", "dst_label", "dst_key"],
    ))
    assert added.counts() == {**want, "edges": 2}


def test_analytics_views_on_read_store_submits_no_jobs(spark, tmp_path):
    """A read snapshot's analytics views are plain scans: building them
    plans only and submits no Spark job (a re-merge of the published
    edge table cut under AQE would run its dedup shuffle as a job)."""
    from vmware_graph_spark.store.graph import GraphStore

    path = str(tmp_path / "snap")
    _small_snapshot_store(spark).write(path)
    back = GraphStore.read(spark, path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "analytics-views-on-read"
    sc.setJobGroup(group, "analytics_views on a read snapshot")
    try:
        v, e = back.analytics_views()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup(group) == []
    assert v.count() == 2 and e.count() == 1


def test_store_import_leaves_pandas_unloaded():
    """pandas loads only inside the mapInPandas bodies that use it."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys, vmware_graph_spark.store.graph; "
        "sys.exit('pandas' in sys.modules)"
    )
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([repo, os.environ.get("PYTHONPATH", "")])}
    assert subprocess.run([sys.executable, "-c", code], env=env).returncode == 0


def test_cli_refresh_accepts_real_xlsx(spark, tmp_path, capsys):
    """`python -m vmware_graph_spark refresh export.xlsx snap/` works
    end-to-end with a genuine .xlsx workbook and a partial sheet set
    (stages with absent sheets are skipped)."""
    import json

    from vmware_graph_spark.__main__ import main

    xlsx = str(tmp_path / "rvtools.xlsx")
    _write_minimal_xlsx(
        xlsx,
        {
            "vCluster": [
                ["VI SDK UUID", "VI SDK Server", "Name", "OverallStatus",
                 "TotalCpu", "NumCpuCores", "TotalMemory", "HA enabled", "DRS enabled"],
                ["uid-9", "vc9.example", "ClusterZ", "green", 1000, 8, 1.0e9, True, False],
            ],
        },
    )
    snap = str(tmp_path / "snap")
    assert main(["refresh", xlsx, snap]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["v:Vcentercluster"] == 1
    assert out["orphans_swept"] == 0
