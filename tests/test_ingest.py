"""Golden tests for the ingest layer + refresh protocol (SURVEY §5.2-5.3).

Workbook A (tests/fixtures.py) exercises every branch; assertions below
are hand-derived from refresh-vmware.cypher semantics. Module-scoped
fixtures build the graph once.
"""

from __future__ import annotations

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

    from vmware_graph_spark.store.graph import LABEL_KEYS, GraphStore, node_key

    path = str(tmp_path / "snap")
    vdir = os.path.join(path, "vertices")
    spark.createDataFrame([("vc1",), ("vc2",)], "uid string").write.parquet(
        os.path.join(vdir, "Vcenterserver")
    )
    spark.createDataFrame(
        [("c1", "vc1", "x"), ("c2", None, "y")], "name string, managedby string, ha string"
    ).write.parquet(os.path.join(vdir, "Vcentercluster"))
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
