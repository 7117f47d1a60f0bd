"""Per-sheet ingest stages: RVTools workbook → property-graph store.

One function per ingest statement of the reference's pass 1
(refresh-vmware.cypher:33-277), re-expressed as declarative DataFrame
transforms feeding ``GraphStore`` upserts. Each stage docstring cites
the statement it reproduces. Known reference bugs are NOT replicated —
see SURVEY §0.2 (bug ledger) — and two documented divergences:

- Vresourcepool identity is (vc, path) everywhere, where the reference
  mixes (name,cluster,dc,vc) [cypher:66] and (path,vc) [cypher:199];
  under the reference's keying, equally-named pools at different depths
  of the same cluster collapse into one node — ours stay distinct.
- parent paths are computed structurally (the ``path_parent`` shape:
  every segment but the last) instead of ``replace(path,'/'+name,'')``
  [cypher:64,216-217], which corrupts paths whose leaf repeats an
  interior segment.

Cypher MATCH = inner join (rows without a match are silently dropped);
OPTIONAL MATCH = left join; MERGE on a null key fails the row (we drop
it). All three semantics live in operators.merge / plain joins here.

One idiom: every stage body is SQL strings. Projections and filters
are ``selectExpr``/``filter`` strings, join conditions are ``F.expr``
strings, edge keys are built by ``_key_sql`` (store.graph, the SQL twin
of ``node_key``), single-key dimension MERGEs fuse through
``_dims_tagged``, and every edge batch is queued by ``_add_edges``. The
one Column expression is the IPv4 classification in
``_server_list_stage``: ``rlike_full(…, IPV4_RE)`` keeps the regex a
Python string, where a SQL literal would need it re-escaped.

Scale notes: every MATCH against a dimension label is a broadcast join
(dim tables are ≪ MB). The only large-large joins are rows⋈VM and
rows⋈host tables, which hash-partition on the natural key — same key
every stage, so AQE reuses the exchange where plans allow.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vmware_graph_spark.functions.scalar import IPV4_RE, rlike_full
from vmware_graph_spark.operators.merge import _bt
from vmware_graph_spark.store.graph import GraphStore, _key_sql, _Raw

UID = "VI SDK UUID"
SERVER = "VI SDK Server"

# functions.scalar.path_parent as SQL: every '/' segment of column
# ``{0}`` but the last (the structural parent, see the module doc)
_PARENT_SQL = (
    "array_join(slice(split({0}, '/'), 1,"
    " greatest(size(split({0}, '/')) - 1, 1)), '/')"
)


def _add_edges(
    store: GraphStore,
    df: DataFrame,
    *rels: tuple[str, str, str, str, str],
    extra: Sequence[str] = (),
) -> None:
    """Queue ONE edge batch of ``rels`` read off ``df``. Each rel is
    ``(src_label, src_key_sql, rel_type, dst_label, dst_key_sql)`` with
    the keys as SQL expressions (``_key_sql`` or a computed column); a
    conditional rel is a ``CASE WHEN … END`` key, and the store's merge
    drops the row where it is NULL, as it drops any null-keyed edge.

    One rel is a plain projection. Several are one tagged
    ``explode(array(struct…))`` (rel_type and dst label ride as data),
    so a fan of k rels costs one plan subtree, not k sheet scans. When
    every rel shares its source, the source label and key are projected
    once outside the struct. ``extra`` holds ``"<sql> AS <prop>"`` items
    of a one-rel batch; the store packs them into the edge's ``props``
    (the HW_VERSION ``upgradestatus`` path, cypher:187,212)."""
    if len(rels) == 1:
        sl, sk, r, dl, dk = rels[0]
        store.add_edges(
            df.selectExpr(
                f"'{sl}' AS src_label", f"{sk} AS src_key", f"'{r}' AS rel_type",
                f"'{dl}' AS dst_label", f"{dk} AS dst_key", *extra,
            )
        )
        return
    assert not extra, "edge properties ride only on a one-rel batch"
    if len({rel[:2] for rel in rels}) == 1:
        head = [f"'{rels[0][0]}' AS src_label", f"{rels[0][1]} AS src_key"]
        fan = ", ".join(
            f"struct('{r}' AS r, '{dl}' AS l, {dk} AS k)" for _, _, r, dl, dk in rels
        )
        out = ["src_label", "src_key", "__p.r AS rel_type", "__p.l AS dst_label",
               "__p.k AS dst_key"]
    else:
        head = []
        fan = ", ".join(
            f"struct('{sl}' AS sl, {sk} AS sk, '{r}' AS r, '{dl}' AS dl, {dk} AS dk)"
            for sl, sk, r, dl, dk in rels
        )
        out = ["__p.sl AS src_label", "__p.sk AS src_key", "__p.r AS rel_type",
               "__p.dl AS dst_label", "__p.dk AS dst_key"]
    store.add_edges(
        df.selectExpr(*head, f"explode(array({fan})) AS __p").selectExpr(*out)
    )


def _dims_tagged(store: GraphStore, df: DataFrame, specs) -> None:
    """Fuse k single-key STRING dimension MERGEs from one sheet into ONE
    tagged explode + ONE distinct: the label rides as a data column
    through a single plan subtree (the node-upsert half of the
    edge-fusion pattern, round-6 VERDICT #6), split back per label only
    at the store boundary — k explode/distinct subtrees and k flush
    shuffles become 1, and the whole fan is TWO selectExpr strings
    instead of k column chains. ``specs`` = [(label, name_sql), ...]
    with ``name_sql`` a SQL expression string; labels with extra
    properties or non-string keys keep their own upsert."""
    fan = ", ".join(
        f"struct('{label}' AS l, {name_sql} AS name)" for label, name_sql in specs
    )
    tagged = (
        df.selectExpr(f"explode(array({fan})) AS __d")
        .selectExpr("__d.l AS __l", "__d.name AS name")
        .filter("name IS NOT NULL")
        .distinct()
    )
    # one shared cut: each label's flush re-reads the SAME materialized
    # distinct instead of re-running the explode per label
    tagged = store._cut(tagged)
    for label in dict.fromkeys(label for label, _ in specs):
        store.upsert_nodes(
            label, tagged.filter(f"__l = '{label}'").selectExpr("name")
        )


# --------------------------------------------------------------------------
# Stage: vCluster → Vcenterserver / Vcentercluster (+sentinels)
# --------------------------------------------------------------------------


def stage_vcluster(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:34-41.

    Creates the vCenter node (uid key), the per-tenant cluster nodes
    with status/capacity props, two sentinel nodes ('None Configured'
    resource pool, 'None Provided' portgroup) and the undirected
    cluster—vCenter edge. The reference's bug at :37 (REMOVEs
    vrp.unverified instead of vpg) is moot here: snapshot semantics
    re-assert both sentinels every run.
    """
    row = sheets["vCluster"]
    store.upsert_nodes(
        "Vcenterserver",
        row.selectExpr(f"{_bt(UID)} AS uid", f"{_bt(SERVER)} AS name").distinct(),
    )
    store.upsert_nodes(
        "Vresourcepool",
        row.selectExpr(
            f"{_bt(SERVER)} AS vc",
            "'None Configured' AS path",
            "'None Configured' AS name",
        ).distinct(),
    )
    store.upsert_nodes(
        "Vmportgroup",
        row.selectExpr(
            "'None Provided' AS name", f"{_bt(UID)} AS managedby"
        ).distinct(),
    )
    store.upsert_nodes(
        "Vcentercluster",
        row.selectExpr(
            "Name AS name",
            f"{_bt(UID)} AS managedby",
            # bug §0.2.6 kept as declared behavior: status → `hosts`
            "OverallStatus AS hosts",
            "TotalCpu AS cpu",
            "NumCpuCores AS CpuCored",
            "TotalMemory AS memory",
            "`HA enabled` AS ha",
            "`DRS enabled` AS drs",
        ),
    )
    _add_edges(store, row, ("Vcentercluster", _key_sql("Name", UID), "CONTROLLED_BY_VC",
                            "Vcenterserver", _key_sql(UID)))


# --------------------------------------------------------------------------
# Stage: vInfo (first block) → vCenter version/build dims
# --------------------------------------------------------------------------


def stage_vcenter_version(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:44-51: DISTINCT server type → split
    ' build-' → version + build dims + BUILD_OF / IS_VCENTER_BUILD."""
    row = sheets["vInfo"]
    vc = store.vertices("Vcenterserver")
    parts = (
        row.selectExpr(
            "`VI SDK Server type` AS vcversion", f"{_bt(SERVER)} AS vcserver"
        )
        .distinct()
        .selectExpr(
            "vcserver",
            "split(vcversion, ' build-')[0] AS vname",
            "split(vcversion, ' build-')[1] AS build",
        )
        # MATCH (vc {name:vcserver}) — inner join drops unknown servers
        .join(vc.selectExpr("name AS vcserver", "uid"), "vcserver")
        # null build would fail the Cypher MERGE → row dropped
        .filter("vname IS NOT NULL AND build IS NOT NULL")
    )
    store.upsert_nodes(
        "Vcenterversion",
        parts.selectExpr("vname AS name").filter("name IS NOT NULL").distinct(),
    )
    store.upsert_nodes("Vcenterbuild", parts.selectExpr("build").distinct())
    _add_edges(
        store, parts,
        ("Vcenterbuild", _key_sql("build"), "BUILD_OF", "Vcenterversion", _key_sql("vname")),
        ("Vcenterserver", _key_sql("uid"), "IS_VCENTER_BUILD", "Vcenterbuild",
         _key_sql("build")),
    )


# --------------------------------------------------------------------------
# Stage: vRP → Vspheredatacenter + Vresourcepool tree
# --------------------------------------------------------------------------


def stage_vrp(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:55-71: the path→hierarchy pattern.

    ``/DC/Cluster/Resources/a/b`` splits on 'Resources' into the
    datacenter/cluster head and the pool tail; pools become nodes keyed
    (vc, full path) with parent edges via a self-join on the parent
    path (§2.10 pattern 1).
    """
    row = sheets["vRP"]
    # split on the LITERAL 'Resources' (no regex metachars), '/' segments
    parsed = row.selectExpr(
        "*",
        "element_at(split(split(`Resource pool`, 'Resources')[0], '/'), 2) AS datacenter",
        "element_at(split(split(`Resource pool`, 'Resources')[0], '/'), 3) AS cluster",
        "split(`Resource pool`, 'Resources')[1] AS resourcepool",
    )
    vc = store.vertices("Vcenterserver").selectExpr(
        "name AS __vcname", "uid AS __vcuid"
    )
    vcc = store.vertices("Vcentercluster").selectExpr(
        "name AS __ccname", "managedby AS __ccuid"
    )
    # MATCH vc by name AND vcc by (cluster, uid) — inner joins (:59)
    joined = (
        parsed.join(vc, F.expr(f"{_bt(SERVER)} = __vcname"))
        .join(vcc, F.expr(f"cluster = __ccname AND {_bt(UID)} = __ccuid"), "inner")
        .drop("__ccname")
    )
    store.upsert_nodes(
        "Vspheredatacenter",
        joined.selectExpr(
            "datacenter AS name", f"{_bt(UID)} AS managedby"
        ).distinct(),
    )
    dc_key = _key_sql("datacenter", UID)
    _add_edges(
        store, joined,
        ("Vcentercluster", _key_sql("cluster", UID), "LOCATED_IN_DC", "Vspheredatacenter",
         dc_key),
        ("Vspheredatacenter", dc_key, "CONTROLLED_BY_VC", "Vcenterserver", _key_sql(UID)),
    )
    # structural path parse (documented divergence — see module doc)
    pools = joined.selectExpr(
        "*",
        "element_at(split(resourcepool, '/'), -1) AS pool",
        f"{_PARENT_SQL.format('resourcepool')} AS parentpath",
    ).filter("pool <> ''")
    store.upsert_nodes(
        "Vresourcepool",
        pools.selectExpr(
            f"{_bt(SERVER)} AS vc",
            "`Resource pool` AS path",
            "pool AS name",
            "cluster",
            "datacenter AS dc",
            "`# VMs` AS vms",
            "`# vCPUs` AS cpus",
            "`Mem Configured` AS memcfg",
        ),
    )
    _add_edges(store, pools, ("Vresourcepool", _key_sql(SERVER, "Resource pool"),
                              "MEMBER_OF_CLUSTER", "Vcentercluster", _key_sql("cluster", UID)))
    # parent pool self-join (:70-71): parent node exists iff another row
    # of this sheet claims the parent's full path (within the same vc).
    with_parent = pools.selectExpr(
        f"{_bt(SERVER)} AS vc",
        "`Resource pool` AS path",
        "CASE WHEN parentpath <> '' THEN concat("
        " element_at(split(`Resource pool`, 'Resources'), 1),"
        " 'Resources', parentpath) END AS parent_path",
    )
    parents = pools.selectExpr(
        f"{_bt(SERVER)} AS vc", "`Resource pool` AS parent_path"
    ).distinct()
    linked = with_parent.join(parents, ["vc", "parent_path"], "inner")
    _add_edges(store, linked, ("Vresourcepool", _key_sql("vc", "path"), "CHILD_RESOURCE_POOL",
                               "Vresourcepool", _key_sql("vc", "parent_path")))


# --------------------------------------------------------------------------
# Stage: vHost → Vspherehost + 12 dimension links + domain tail
# --------------------------------------------------------------------------


def stage_vhost(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:73-103."""
    row = sheets["vHost"]
    vc = store.vertices("Vcenterserver").selectExpr("name AS __vcname", "uid AS __vcuid")
    vcc = store.vertices("Vcentercluster").selectExpr(
        "name AS __ccname", "managedby AS __ccuid"
    )
    joined = row.join(vc, F.expr(f"{_bt(SERVER)} = __vcname")).join(
        vcc, F.expr(f"Cluster = __ccname AND {_bt(UID)} = __ccuid")
    )
    store.upsert_nodes(
        "Vspherehost",
        joined.selectExpr(
            "`Object ID` AS objid",
            f"{_bt(UID)} AS managedby",
            "Host AS name",
            "NumHosts AS hosts",
            "`# CPU` AS cpu",
            "`# Cores` AS cores",
            "`# Memory` AS memory",
            "`Memory usage %` AS memusage",
            "`# VMs` AS vms",
            "`Assigned License(s)` AS license",
            "`Max EVC` AS chipset",
            "`Boot time` AS boot",
            "`Service tag` AS servicetag",
        ),
    )
    host_key = _key_sql("Object ID", UID)

    # the split delimiter has no regex metacharacters, so SQL split is
    # Cypher's literal split here
    esx_ver_sql = _Raw("(split(`ESX Version`, ' build-')[0])")
    esx_build_sql = _Raw("(split(`ESX Version`, ' build-')[1])")
    vendor_sql = _Raw("(coalesce(Vendor, 'None Provided'))")
    model_sql = _Raw("(coalesce(Model, 'None Provided'))")
    bios_ver_sql = _Raw("(coalesce(`BIOS Version`, 'None Provided'))")

    # seven plain string dims fuse through ONE tagged explode + distinct;
    # Vsphereesxbuild (build key) and Biosversion (two-column key) keep
    # their own upserts below
    _dims_tagged(
        store,
        joined,
        [
            ("Vconfigstatus", _bt("Config status")),
            ("Vspherecpupwrmgpol", _bt("Current CPU power man. policy")),
            ("Vspherehostpwrmgpol", _bt("Host Power Policy")),
            ("Cpumodel", _bt("CPU Model")),
            ("Vsphereesxversion", esx_ver_sql),
            ("Crmmanufacturer", vendor_sql),
            ("Crmmodel", model_sql),
        ],
    )
    store.upsert_nodes(
        "Vsphereesxbuild",
        joined.selectExpr(f"{esx_build_sql} AS build").filter("build IS NOT NULL").distinct(),
    )
    store.upsert_nodes(
        "Biosversion",
        joined.selectExpr(f"{bios_ver_sql} AS version", "`BIOS Date` AS date")
        .filter("date IS NOT NULL")
        .distinct(),
    )

    # one edge batch for the eleven per-host rels (two structural +
    # nine dims); a null dim value yields a null dst_key, which the
    # merge drops
    _add_edges(
        store, joined,
        *[
            ("Vspherehost", host_key, rel, label, key)
            for rel, label, key in [
                ("CONTROLLED_BY_VC", "Vcenterserver", _key_sql(UID)),
                ("MEMBER_OF_CLUSTER", "Vcentercluster", _key_sql("Cluster", UID)),
                ("CONFIG_STATUS", "Vconfigstatus", _key_sql("Config status")),
                ("IN_CPU_POW_MGMT", "Vspherecpupwrmgpol",
                 _key_sql("Current CPU power man. policy")),
                ("IN_HOST_POW_PLCY", "Vspherehostpwrmgpol", _key_sql("Host Power Policy")),
                ("HAS_CPU", "Cpumodel", _key_sql("CPU Model")),
                ("IS_ESX_BUILD", "Vsphereesxbuild", _key_sql(esx_build_sql)),
                ("IS_ESX_VERSION", "Vsphereesxversion", _key_sql(esx_ver_sql)),
                ("MANUFACTURED_BY", "Crmmanufacturer", _key_sql(vendor_sql)),
                ("ASSET_MODEL", "Crmmodel", _key_sql(model_sql)),
                ("BIOS_VERSION", "Biosversion", _key_sql(bios_ver_sql, "BIOS Date")),
            ]
        ],
    )
    # the two dim-to-dim rels stay one-rel batches: their literal labels
    # let label-filtered reads (edge_pairs, the graph queries) prune
    # them, which a mixed-source fan's data-borne labels would not
    _add_edges(store, joined, ("Vsphereesxbuild", _key_sql(esx_build_sql), "BUILD_OF",
                               "Vsphereesxversion", _key_sql(esx_ver_sql)))
    _add_edges(store, joined, ("Biosversion", _key_sql(bios_ver_sql, "BIOS Date"),
                               "MANUFACTURED_BY", "Crmmanufacturer", _key_sql(vendor_sql)))

    # domain tail (:100-103): 2-hop MATCH (cd:Clientdomain)--(co:Company)
    # through the seeded edge; inner semantics drop unseeded domains.
    # The hop reads edge_pairs, and drops null-keyed pairs as the
    # canonical edge merge does.
    cd = store.vertices("Clientdomain")
    if cd is not None:
        sym = store.edge_pairs("Clientdomain", "Company").selectExpr(
            "a_key AS __cdkey", "b_key AS __cokey"
        ).filter("__cdkey IS NOT NULL AND __cokey IS NOT NULL")
        tail = (
            joined.selectExpr("*", "coalesce(Domain, 'None Provided') AS __dom")
            .join(cd.selectExpr("name AS __dom"), "__dom")
            .join(sym, F.expr(f"{_key_sql('__dom')} = __cdkey"))
        )
        _add_edges(
            store, tail,
            ("Vspherehost", host_key, "OF_DOMAIN", "Clientdomain", _key_sql("__dom")),
            ("Vspherehost", host_key, "ESX_HOST_FOR", "Company", "__cokey"),
        )


# --------------------------------------------------------------------------
# Stage: NTP / DNS classification (the IP-vs-FQDN branch)
# --------------------------------------------------------------------------


def _server_list_stage(
    store: GraphStore,
    sheets: Mapping[str, DataFrame],
    *,
    col: str,
    label: str,
    rel: str,
) -> None:
    """refresh-vmware.cypher:106-139: explode a comma-joined server
    list, trim, classify each entry with the ANCHORED IPv4 regex
    (Cypher `=~` full-match — the P5 trap), and upsert ip-keyed vs
    fqdn-keyed dimension nodes + USES_* edges."""
    row = sheets["vHost"]
    hosts = store.vertices("Vspherehost").selectExpr(
        "objid AS __objid", "name AS __hname", "managedby AS __huid"
    )
    # MATCH {objid, name} (:107) — objid + name equality, any tenant
    j = row.join(hosts, F.expr("`Object ID` = __objid AND Host = __hname"))
    entries = (
        j.filter(f"{_bt(col)} IS NOT NULL")
        .selectExpr(
            "__objid", "__huid", f"explode(split({_bt(col)}, ',')) AS raw"
        )
        .selectExpr("__objid", "__huid", "trim(raw) AS address")
    )
    # the stages' one Column expression (module doc): the regex stays
    # a Python string
    classified = entries.select(
        "__objid", "__huid",
        F.when(rlike_full("address", IPV4_RE), "ip").otherwise("fqdn").alias("kind"),
        "address",
    )
    store.upsert_nodes(
        label,
        classified.selectExpr(
            "kind", "address",
            "CASE WHEN kind = 'ip' THEN address END AS ipaddress",
            "CASE WHEN kind = 'fqdn' THEN address END AS fqdn",
        ).distinct(),
    )
    _add_edges(store, classified, ("Vspherehost", _key_sql("__objid", "__huid"), rel, label,
                                   _key_sql("kind", "address")))


def stage_ntp(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    _server_list_stage(store, sheets, col="NTP Server(s)", label="Ntpserver", rel="USES_NTP")


def stage_dns(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    _server_list_stage(store, sheets, col="DNS Servers", label="Dnsserver", rel="USES_DNS")


# --------------------------------------------------------------------------
# Host-network stages: vSwitch / vPort / vNIC (share the edge-hop join)
# --------------------------------------------------------------------------


def _rows_host_cluster(store: GraphStore, row: DataFrame) -> DataFrame:
    """The J3 edge-hop MATCH (vmh {name:Host})--(vcc {name:Cluster,
    managedby:uid}) [cypher:143,156,168]: host by NAME joined to the
    cluster through any existing edge, either direction. The hop reads
    ``store.edge_pairs`` (raw-batch label filter + distinct), not the
    canonical edges() merge — identical pair set, no full-edge-table
    dedup re-run per calling stage."""
    hosts = store.vertices("Vspherehost").selectExpr(
        "name AS __hname", f"{_key_sql('objid', 'managedby')} AS __hkey"
    )
    clusters = store.vertices("Vcentercluster").selectExpr(
        "name AS __cname", "managedby AS __cuid",
        f"{_key_sql('name', 'managedby')} AS __ckey",
    )
    hop = store.edge_pairs("Vspherehost", "Vcentercluster").selectExpr(
        "a_key AS __hkey", "b_key AS __ckey"
    )
    linked = hosts.join(hop, "__hkey").join(clusters, "__ckey")
    return row.join(
        linked, F.expr(f"Host = __hname AND Cluster = __cname AND {_bt(UID)} = __cuid")
    )


def _rows_switch(store: GraphStore, row: DataFrame) -> DataFrame:
    """``_rows_host_cluster`` plus MATCH (vsw:Vswitch {name:Switch,
    host:Host}) [cypher:157,169], carrying the switch key ``__swkey``."""
    j = _rows_host_cluster(store, row)
    vsw = store.vertices("Vswitch").selectExpr(
        "name AS __swname", "host AS __swhost",
        f"{_key_sql('name', 'host')} AS __swkey",
    )
    return j.join(vsw, F.expr("Switch = __swname AND Host = __swhost"))


def stage_vswitch(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:142-152 (+ the J6 Jumboframes theta join)."""
    j = _rows_host_cluster(store, sheets["vSwitch"])
    sw_key = _key_sql("Switch", "Host")
    store.upsert_nodes(
        "Vswitch",
        j.selectExpr(
            "Switch AS name",
            "Host AS host",
            "`# Ports` AS ports",
            "`Free Ports` AS freeports",
            "`Promiscuous Mode` AS promiscuous",
            "`Mac Changes` AS macchanges",
            "`Forged Transmits` AS forged",
            "`Traffic Shaping` AS shaping",
            "`Notify Switch` AS notifysw",
            "try_cast(MTU AS int) AS mtu",
            "Offload AS offload",
        ),
    )
    # Vlbpolicy here has NO coalesce (:148) — null Policy fails the row
    # (a null dim key drops in merge exactly like the former filter did)
    store.upsert_nodes(
        "Vlbpolicy",
        j.selectExpr("Policy AS name").filter("name IS NOT NULL").distinct(),
    )
    _add_edges(
        store, j,
        ("Vswitch", sw_key, "VSWITCH_FOR_HOST", "Vspherehost", "__hkey"),
        ("Vswitch", sw_key, "LOAD_BALANCING_POLICY", "Vlbpolicy", _key_sql("Policy")),
    )
    # Jumboframes (:151-152): cartesian with the 1-row seed, theta mtu>=9000
    jumbo = store.vertices("Jumboframes")
    if jumbo is not None:
        big = j.filter("try_cast(MTU AS int) >= 9000").crossJoin(
            F.broadcast(jumbo.filter("name = 'enabled'").selectExpr("name AS __jmb"))
        )
        _add_edges(store, big, ("Vswitch", sw_key, "HAS_JUMBO_FRAMES", "Jumboframes",
                                _key_sql("__jmb")))


def stage_vport(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:155-163."""
    j = _rows_switch(store, sheets["vPort"])
    pol_sql = _Raw("(coalesce(Policy, 'None Provided'))")
    store.upsert_nodes(
        "Vportgroup",
        j.selectExpr("`Port Group` AS name", f"{_bt(UID)} AS managedby").distinct(),
    )
    store.upsert_nodes(
        "Vhostportgroup",
        j.selectExpr(
            "`Port Group` AS name",
            "Host AS host",
            f"{_bt(UID)} AS managedby",
            "VLAN AS vlan",
            "`Promiscuous Mode` AS promiscuous",
            "`Mac Changes` AS macchanges",
            "`Forged Transmits` AS forged",
            "`Traffic Shaping` AS shaping",
        ),
    )
    store.upsert_nodes(
        "Vlbpolicy",
        j.selectExpr(f"{pol_sql} AS name").distinct(),
    )
    pg_key = _key_sql("Port Group", "Host", UID)
    _add_edges(
        store, j,
        ("Vhostportgroup", pg_key, "HOST_PG_FOR", "Vportgroup", _key_sql("Port Group", UID)),
        ("Vhostportgroup", pg_key, "STANDARD_PG_ON", "Vspherehost", "__hkey"),
        ("Vswitch", "__swkey", "LOAD_BALANCING_POLICY", "Vlbpolicy", _key_sql(pol_sql)),
    )


def stage_vnic(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:166-176."""
    j = _rows_switch(store, sheets["vNIC"])
    speed_sql = _Raw("(coalesce(Speed, 'No link'))")
    driver_sql = _Raw("(coalesce(Driver, 'None Provided'))")
    nic_key = _key_sql("Network Device", "Host")
    store.upsert_nodes(
        "Vmnic",
        j.selectExpr(
            "`Network Device` AS name",
            "Host AS host",
            "MAC AS mac",
            "WakeOn AS wake",
            "PCI AS pci",
        ),
    )
    # the two string dims fuse through one tagged distinct
    _dims_tagged(store, j, [("Vmnicdriver", driver_sql), ("Vmnicspeed", speed_sql)])
    _add_edges(
        store, j,
        ("Vmnic", nic_key, "USES_DRIVER", "Vmnicdriver", _key_sql(driver_sql)),
        ("Vmnic", nic_key, "LINK_SPEED", "Vmnicspeed", _key_sql(speed_sql)),
        ("Vmnic", nic_key, "PNIC_OF_HOST", "Vspherehost", "__hkey"),
        ("Vswitch", "__swkey", "NETWORK_ADAPTERS", "Vmnic", nic_key),
    )


# --------------------------------------------------------------------------
# Stage: vInfo → Virtualmachine (the hardest sheet: conditionals,
# fan-out, folder & pool hierarchies)
# --------------------------------------------------------------------------


def stage_vinfo_vms(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:179-224.

    Covers M6 (FOREACH-CASE conditional MERGEs), the Network #1-4
    fan-out (§2.10-6), the folder/pool hierarchy self-joins
    (§2.10-1/2), and the HW_VERSION edge property. Reference bug
    §0.2.3 (fqdn read from the node instead of the row) is fixed:
    fqdn := row.`DNS Name`.
    """
    row = sheets["vInfo"]
    vm_key = _key_sql("VM UUID", UID)
    vm = ("Virtualmachine", vm_key)

    store.upsert_nodes(
        "Virtualmachine",
        row.selectExpr(
            "`VM UUID` AS uuid",
            f"{_bt(UID)} AS managedby",
            "VM AS name",
            "`DNS Name` AS fqdn",
            "PowerOn AS poweron",
            "`Change Version` AS changedon",
            "Annotation AS note",
            "`VM ID` AS vmid",
            "`Consolidation Needed` AS needsconsolidation",
            "CPUs AS cpus",
            "try_cast(Memory AS int) AS memory",
            "try_cast(NICs AS int) AS nics",
            "try_cast(Disks AS int) AS disks",
            "CBT AS cbt",
        ),
    )

    # Vcpus dim: name = CPUs + ' vCPUs' (Cypher int+string concat), qty prop
    vcpu_name = _Raw("(concat(cast(CPUs AS string), ' vCPUs'))")
    store.upsert_nodes(
        "Vcpus",
        row.selectExpr(f"{vcpu_name} AS name", "try_cast(CPUs AS int) AS qty")
        .filter("name IS NOT NULL")
        .distinct(),
    )
    hw_name = _Raw("(try_cast(`HW version` AS int))")
    store.upsert_nodes(
        "Vhwver", row.selectExpr(f"{hw_name} AS name").filter("name IS NOT NULL").distinct()
    )
    # HW_VERSION carries the one edge property in the whole reference
    # (cypher:187,212 SET r.upgradestatus) — first-class via the store's
    # props map; readable off a written snapshot (edges_with_props).
    _add_edges(store, row, (*vm, "HW_VERSION", "Vhwver", _key_sql(hw_name)),
               extra=["`HW upgrade status` AS upgradestatus"])

    # FOREACH-CASE conditionals (M6, :199-203) → filtered sub-upserts
    rp_cond = "`Resource pool` IS NOT NULL AND size(split(`Resource pool`, '/')) > 4"
    store.upsert_nodes(
        "Vresourcepool",
        row.filter(rp_cond).selectExpr(
            f"{_bt(SERVER)} AS vc",
            "`Resource pool` AS path",
            "element_at(split(`Resource pool`, '/'), -1) AS name",
        ),
    )
    fl_cond = "Folder IS NOT NULL AND size(split(Folder, '/')) > 2"
    store.upsert_nodes(
        "Vfolder",
        row.filter(fl_cond).selectExpr(
            "Folder AS path", "element_at(split(Folder, '/'), -1) AS name"
        ),
    )

    # ONE edge batch for the ten per-VM edge families (five state dims,
    # HAS_VCPUS, two OS rels, the two M6 conditional rels); a null
    # dst_key — null dim value, or a FOREACH-CASE condition that's
    # false — drops the row in merge. The matching node upserts for the
    # plain string dims fuse the same way (_dims_tagged); Vcpus and
    # Vhwver keep their own upserts (qty prop, int key).
    state_dims = [
        ("CONNECTION_STATE", "Vconnectionstate", "Connection state"),
        ("CONFIG_STATUS", "Vconfigstatus", "Config status"),
        ("IN_POWER_STATE", "Vmpwrstate", "Powerstate"),
        ("IN_GUEST_STATE", "Vmpgueststate", "Guest state"),
        ("HEARTBEAT", "Vmheartbeat", "Heartbeat"),
    ]
    os_dims = [("OS_VIA_TOOLS", "OS according to the VMware Tools"),
               ("OS_VIA_CONFIG", "OS according to the configuration file")]
    _dims_tagged(
        store,
        row,
        [(label, _bt(col)) for _rel, label, col in state_dims]
        + [("Vmos", _bt(col)) for _rel, col in os_dims],
    )
    _add_edges(
        store, row,
        *[(*vm, rel, label, _key_sql(col)) for rel, label, col in state_dims],
        (*vm, "HAS_VCPUS", "Vcpus", _key_sql(vcpu_name)),
        *[(*vm, rel, "Vmos", _key_sql(col)) for rel, col in os_dims],
        (*vm, "IN_RESOURCE_POOL", "Vresourcepool",
         f"CASE WHEN {rp_cond} THEN {_key_sql(SERVER, 'Resource pool')} END"),
        (*vm, "IN_FOLDER", "Vfolder", f"CASE WHEN {fl_cond} THEN {_key_sql('Folder')} END"),
    )

    # Network #1-4 fan-out (:204-211): nulls coalesce to 'Not
    # Configured'; one explode replaces four per-column upsert+edge
    # rounds — the distinct over the exploded names equals the union
    # of the four per-column distincts, and duplicate edges collapse
    # in merge_edges.
    nets = ", ".join(
        f"coalesce({_bt(f'Network #{i}')}, 'Not Configured')" for i in (1, 2, 3, 4)
    )
    net_rows = row.selectExpr(
        f"{vm_key} AS __vmk",
        f"{_bt(UID)} AS __uid",
        f"explode(array({nets})) AS __net",
    )
    store.upsert_nodes(
        "Vportgroup",
        net_rows.selectExpr("__net AS name", "__uid AS managedby").distinct(),
    )
    _add_edges(store, net_rows, ("Virtualmachine", "__vmk", "IN_PORTGROUP", "Vportgroup",
                                 _key_sql("__net", "__uid")))

    # hierarchy tail (:213-223) — all lookups against the store state
    # AFTER this stage's upserts (Cypher sees its own MERGEs).
    # The four lookup sides are BROADCAST: they are vSphere INVENTORY
    # dims (distinct folder paths, resource-pool paths, datacenters,
    # clusters — bounded by vCenter object limits, ~10⁴ per VC, a few
    # MB even fleet-wide), while the probe side is the per-VM row
    # table. Without the hint every lookup planned as a SortMergeJoin:
    # the store state behind them is a lineage of merges over
    # LogicalRDD fixtures with NO size statistics, so the broadcast
    # threshold can never fire on its own (guide §3.1 — estimates are
    # wrong after UDFs/opaque nodes; hint when you know a side is
    # small). Measured at sf0.1: 6 Exchange+Sort pairs drop out of the
    # stage plan.
    folders = F.broadcast(store.vertices("Vfolder").selectExpr("path AS __flpath"))
    pools = F.broadcast(
        store.vertices("Vresourcepool").selectExpr("vc AS __rpvc", "path AS __rppath")
    )
    vdc = F.broadcast(
        store.vertices("Vspheredatacenter").selectExpr(
            "name AS __dcname", "managedby AS __dcuid"
        )
    )
    vcc = F.broadcast(
        store.vertices("Vcentercluster").selectExpr("name AS __ccname", "managedby AS __ccuid")
    )
    uid, server = _bt(UID), _bt(SERVER)
    t = (
        row.selectExpr(
            "*",
            f"{vm_key} AS __vmkey",
            "element_at(split(Folder, '/'), 2) AS __fhead",
            "element_at(split(`Resource pool`, '/'), 3) AS __rpcluster",
        )
        # OPTIONAL MATCH vdc / vcc (:180-181)
        .join(vdc, F.expr(f"__fhead = __dcname AND {uid} = __dcuid"), "left")
        .join(vcc, F.expr(f"__rpcluster = __ccname AND {uid} = __ccuid"), "left")
        # OPTIONAL MATCH vfl {path:Folder} (:214)
        .join(folders, F.expr("Folder = __flpath"), "left")
        # OPTIONAL MATCH vrp {path:Resource pool} (:215) — scoped to vc
        .join(pools, F.expr(f"`Resource pool` = __rppath AND {server} = __rpvc"), "left")
    )
    pf = pools.selectExpr("__rpvc AS __pvc", "__rppath AS __prppath")
    ff = folders.selectExpr("__flpath AS __pflpath")
    t = (
        t.selectExpr(
            "*",
            f"CASE WHEN __flpath IS NOT NULL THEN {_PARENT_SQL.format('__flpath')} END"
            " AS __flparent",
            f"CASE WHEN __rppath IS NOT NULL THEN {_PARENT_SQL.format('__rppath')} END"
            " AS __rpparent",
        )
        # OPTIONAL MATCH parent folder / pool (:216-217)
        .join(ff, F.expr("__flparent = __pflpath"), "left")
        .join(pf, F.expr(f"__rpparent = __prppath AND {server} = __pvc"), "left")
    )

    has_fl, has_pfl = "__flpath IS NOT NULL", "__pflpath IS NOT NULL"
    has_rp, has_prp = "__rppath IS NOT NULL", "__prppath IS NOT NULL"
    has_dc, has_cc = "__dcname IS NOT NULL", "__ccname IS NOT NULL"
    dc_key = _key_sql("__dcname", "__dcuid")
    cc_key = _key_sql("__ccname", "__ccuid")
    fl_key, pfl_key = _key_sql("__flpath"), _key_sql("__pflpath")
    rp_key = _key_sql(SERVER, "__rppath")
    prp_key = _key_sql(SERVER, "__prppath")

    # one edge batch for the six hierarchy rels: a false OPTIONAL-MATCH
    # condition nulls both keys, which merge drops
    _add_edges(
        store, t,
        *[
            (sl, f"CASE WHEN {cond} THEN {sk} END", r, dl, f"CASE WHEN {cond} THEN {dk} END")
            for cond, sl, sk, r, dl, dk in [
                (f"{has_fl} AND {has_pfl}", "Vfolder", fl_key,
                 "IN_FOLDER", "Vfolder", pfl_key),
                (f"{has_fl} AND NOT ({has_pfl}) AND {has_dc}", "Vfolder", fl_key,
                 "LOCATED_IN_DC", "Vspheredatacenter", dc_key),
                (f"NOT ({has_fl}) AND {has_dc}", "Virtualmachine", "__vmkey",
                 "LOCATED_IN_DC", "Vspheredatacenter", dc_key),
                (f"{has_rp} AND {has_prp}", "Vresourcepool", rp_key,
                 "CHILD_RESOURCE_OF", "Vresourcepool", prp_key),
                (f"{has_cc} AND {has_rp} AND NOT ({has_prp})", "Vresourcepool", rp_key,
                 "LOCATED_IN_CLUSTER", "Vcentercluster", cc_key),
                (f"{has_cc} AND NOT ({has_rp})", "Virtualmachine", "__vmkey",
                 "LOCATED_IN_CLUSTER", "Vcentercluster", cc_key),
            ]
        ],
    )


# --------------------------------------------------------------------------
# Stage: vDatastore / vDisk / vNetwork / vPartition / vSnapshot
# --------------------------------------------------------------------------


def _rows_vm(store: GraphStore, row: DataFrame) -> DataFrame:
    """MATCH the row's VM {uuid:`VM UUID`, managedby:uid}, carrying the
    VM key ``__vmkey``."""
    vms = store.vertices("Virtualmachine").selectExpr(
        "uuid AS __vmuuid", "managedby AS __vmuid",
        f"{_key_sql('uuid', 'managedby')} AS __vmkey",
    )
    return row.join(vms, F.expr(f"`VM UUID` = __vmuuid AND {_bt(UID)} = __vmuid"))


def _rows_vc_vm(store: GraphStore, row: DataFrame) -> DataFrame:
    """MATCH (vc {name:`VI SDK Server`}), then ``_rows_vm``
    [cypher:255,267,274]."""
    vc = store.vertices("Vcenterserver").selectExpr("name AS __vcname")
    return _rows_vm(store, row.join(vc, F.expr(f"{_bt(SERVER)} = __vcname")))


def stage_vdatastore(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:228-240. Bug §0.2.4 (`ds.verion` typo) is
    fixed: the property is ``version``."""
    row = sheets["vDatastore"]
    vc = store.vertices("Vcenterserver").selectExpr("uid AS __vcuid")
    j = row.join(vc, F.expr(f"{_bt(UID)} = __vcuid"))
    ds_key = _key_sql("URL")
    store.upsert_nodes(
        "Vdatastore",
        j.selectExpr(
            "URL AS url",
            "Name AS name",
            "Accessible AS accessible",
            "`Capacity MB` AS capacity",
            "`In Use MB` AS inuse",
            "`Free MB` AS free",
            "`# Hosts` AS hosts",
            "Version AS version",
            "`SIOC enabled` AS sio",
            "`# VMs` AS vms",
            "Address AS address",
            f"{_bt(UID)} AS managedby",
        ),
    )
    # both string dims through one tagged distinct, both per-datastore
    # edge families in one batch (null dim → null dst_key → dropped in
    # merge)
    _dims_tagged(
        store, j,
        [("Vconfigstatus", _bt("Config status")), ("Vdatastoretype", "Type")],
    )
    _add_edges(
        store, j,
        ("Vdatastore", ds_key, "CONFIG_STATUS", "Vconfigstatus", _key_sql("Config status")),
        ("Vdatastore", ds_key, "DATASTORE_TYPE", "Vdatastoretype", _key_sql("Type")),
    )
    # hosts explode + trim (:237-239) — join hosts by (trimmed name, uid)
    hosts = store.vertices("Vspherehost").selectExpr(
        "name AS __hname", "managedby AS __huid",
        f"{_key_sql('objid', 'managedby')} AS __hkey",
    )
    exploded = (
        j.filter("Hosts IS NOT NULL")
        .selectExpr(
            "URL",
            f"{_bt(UID)} AS __uid",
            "explode(split(Hosts, ',')) AS raw",
        )
        .selectExpr("URL", "__uid", "trim(raw) AS __hname")
        .join(hosts, ["__hname"])
        .filter("__uid = __huid")
    )
    _add_edges(store, exploded, ("Vspherehost", "__hkey", "CONNECTED_DATASTORE", "Vdatastore",
                                 ds_key))


def stage_vdisk(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:243-251: virtual disks + the datastore-name
    path parse ``[dsname] vm/vm.vmdk`` (§2.10-5) with the J5
    existence-qualified datastore join."""
    j = _rows_vm(store, sheets["vDisk"])
    store.upsert_nodes(
        "Virtualdisk",
        j.selectExpr(
            "Path AS path",
            "Disk AS disk",
            "`Capacity MB` AS capacity",
            "Thin AS thin",
            "Controller AS controller",
            "`Disk Mode` AS mode",
            "`Eagerly Scrub` AS eager",
            "Template AS template",
        ),
    )
    _add_edges(store, j, ("Virtualdisk", _key_sql("Path"), "VDISK_FOR_VM", "Virtualmachine",
                          "__vmkey"))
    # J5 (:250): ds {name,managedby} connected (any edge) to host
    # {name:Host,managedby} — the hop reads edge_pairs (raw-batch label
    # filter), not the full canonical edge merge
    ds = store.vertices("Vdatastore").selectExpr(
        "name AS __dsname", "managedby AS __dsuid",
        f"{_key_sql('url')} AS __dskey",
    )
    hosts = store.vertices("Vspherehost").selectExpr(
        "name AS __hname", "managedby AS __huid2",
        f"{_key_sql('objid', 'managedby')} AS __hkey2",
    )
    ds_host = store.edge_pairs("Vdatastore", "Vspherehost").selectExpr(
        "a_key AS __dskey", "b_key AS __hkey2"
    )
    qualified = ds.join(ds_host, "__dskey").join(hosts, "__hkey2")
    # datastore name parse (:249): regexp_extract of the [bracket] head
    withds = (
        j.selectExpr(
            "Path",
            "Host",
            f"{_bt(UID)} AS __uid",
            f"{_key_sql('Path')} AS __vdkey",
            r"regexp_extract(Path, '^\\[([^\\]]*)\\]', 1) AS __parsed_ds",
        )
        .join(
            qualified,
            F.expr(
                "__parsed_ds = __dsname AND __uid = __dsuid"
                " AND Host = __hname AND __uid = __huid2"
            ),
        )
        .select("__vdkey", "__dskey")
        .distinct()
    )
    _add_edges(store, withds, ("Virtualdisk", "__vdkey", "ON_DATASTORE", "Vdatastore",
                               "__dskey"))


def stage_vnetwork(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:254-263."""
    j = _rows_vc_vm(store, sheets["vNetwork"])
    ad_key = _key_sql("Mac Address", "VM UUID")
    store.upsert_nodes(
        "Vmadapter",
        j.selectExpr(
            "`Mac Address` AS mac",
            "`VM UUID` AS vmuuid",
            "`Starts Connected` AS startconnected",
            "`IP Address` AS ip",
        ),
    )
    store.upsert_nodes(
        "Vmadaptertype",
        j.selectExpr("Adapter AS name").filter("name IS NOT NULL").distinct(),
    )
    _add_edges(
        store, j,
        ("Vmadapter", ad_key, "ADAPTER_FOR", "Virtualmachine", "__vmkey"),
        ("Vmadapter", ad_key, "ADAPTER_TYPE", "Vmadaptertype", _key_sql("Adapter")),
    )
    # portgroup tail (:261-263): MATCH Vhostportgroup {name:Network,host,managedby}
    pg = store.vertices("Vhostportgroup").selectExpr(
        "name AS __pgname", "host AS __pghost", "managedby AS __pguid",
        f"{_key_sql('name', 'host', 'managedby')} AS __pgkey",
    )
    tail = j.join(
        pg, F.expr(f"Network = __pgname AND Host = __pghost AND {_bt(UID)} = __pguid")
    )
    _add_edges(store, tail, ("Vmadapter", ad_key, "IN_PORTGROUP", "Vhostportgroup", "__pgkey"))


def stage_vpartition(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:266-270."""
    j = _rows_vc_vm(store, sheets["vPartition"])
    store.upsert_nodes(
        "Vpartition",
        j.selectExpr(
            "Disk AS disk",
            "`VM UUID` AS vmuuid",
            "`Capacity MB` AS capacity",
            "`Consumed MB` AS consumed",
            "`Free %` AS free",
        ),
    )
    _add_edges(store, j, ("Vpartition", _key_sql("Disk", "VM UUID"), "PARTITION_FOR",
                          "Virtualmachine", "__vmkey"))


def stage_vsnapshot(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:273-277."""
    j = _rows_vc_vm(store, sheets["vSnapshot"])
    store.upsert_nodes(
        "Vsnapshot",
        j.selectExpr(
            "Name AS name",
            "`VM UUID` AS vmuuid",
            "Description AS description",
            "`Date / time` AS timestamp",
            "`Size MB (total)` AS size",
        ),
    )
    _add_edges(store, j, ("Vsnapshot", _key_sql("Name", "VM UUID"), "SNAPSHOT_OF",
                          "Virtualmachine", "__vmkey"))


# The reference's statement order (pass 1) — later stages join against
# nodes earlier stages created.
STAGES = [
    stage_vcluster,
    stage_vcenter_version,
    stage_vrp,
    stage_vhost,
    stage_ntp,
    stage_dns,
    stage_vswitch,
    stage_vport,
    stage_vnic,
    stage_vinfo_vms,
    stage_vdatastore,
    stage_vdisk,
    stage_vnetwork,
    stage_vpartition,
    stage_vsnapshot,
]

# Sheet each stage consumes — ``run_ingest`` skips stages whose sheet
# the workbook doesn't carry, exactly as the reference's per-sheet
# apoc.load.xls statements simply find nothing to load (and as
# ``read_workbook_dir`` omits absent sheets).
STAGE_SHEETS: dict = {
    stage_vcluster: "vCluster",
    stage_vcenter_version: "vInfo",
    stage_vrp: "vRP",
    stage_vhost: "vHost",
    stage_ntp: "vHost",
    stage_dns: "vHost",
    stage_vswitch: "vSwitch",
    stage_vport: "vPort",
    stage_vnic: "vNIC",
    stage_vinfo_vms: "vInfo",
    stage_vdatastore: "vDatastore",
    stage_vdisk: "vDisk",
    stage_vnetwork: "vNetwork",
    stage_vpartition: "vPartition",
    stage_vsnapshot: "vSnapshot",
}
