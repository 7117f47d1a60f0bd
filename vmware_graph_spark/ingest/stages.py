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
- parent paths are computed structurally (functions.scalar.path_parent)
  instead of ``replace(path,'/'+name,'')`` [cypher:64,216-217], which
  corrupts paths whose leaf repeats an interior segment.

Cypher MATCH = inner join (rows without a match are silently dropped);
OPTIONAL MATCH = left join; MERGE on a null key fails the row (we drop
it). All three semantics live in operators.merge / plain joins here.

Scale notes: every MATCH against a dimension label is a broadcast join
(dim tables are ≪ MB). The only large-large joins are rows⋈VM and
rows⋈host tables, which hash-partition on the natural key — same key
every stage, so AQE reuses the exchange where plans allow.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vmware_graph_spark.functions.scalar import (
    IPV4_RE,
    path_last,
    path_parent,
    rlike_full,
    split_literal,
    try_int,
)
from vmware_graph_spark.operators.merge import _bt
from vmware_graph_spark.store.graph import GraphStore, node_key

UID = "VI SDK UUID"
SERVER = "VI SDK Server"


def _edges(
    df: DataFrame,
    src_label: str,
    src_key,
    rel_type: str,
    dst_label: str,
    dst_key,
    props: Mapping[str, F.Column] | None = None,
) -> DataFrame:
    cols = [
        F.lit(src_label).alias("src_label"),
        src_key.alias("src_key"),
        F.lit(rel_type).alias("rel_type"),
        F.lit(dst_label).alias("dst_label"),
        dst_key.alias("dst_key"),
    ]
    for name, expr in (props or {}).items():
        cols.append(expr.alias(name))
    return df.select(*cols)


def _dim(store: GraphStore, df: DataFrame, label: str, name_expr, extra=None) -> None:
    """MERGE a single-key dimension label from an expression column."""
    cols = [name_expr.alias("name")]
    for k, e in (extra or {}).items():
        cols.append(e.alias(k))
    store.upsert_nodes(label, df.select(*cols).filter(F.col("name").isNotNull()).distinct())


class _Raw(str):
    """Explicit marker for a pre-built SQL expression passed to
    :func:`_key_sql`. Anything NOT wrapped is treated as a column NAME
    and backticked — a sheet column whose name happens to start with
    '(' can therefore never be injected as raw SQL (round-7 ADVICE)."""


def _key_sql(*cols: str) -> str:
    """SQL-string twin of :func:`node_key` for the selectExpr-built fan
    batches: NULL if any component is null (concat semantics), chr(31)
    separator. ``cols`` are column NAMES (backticked here) or
    :class:`_Raw`-wrapped SQL expressions (passed through verbatim)."""
    qs = [c if isinstance(c, _Raw) else _bt(c) for c in cols]
    if len(qs) == 1:
        return f"cast({qs[0]} AS string)"
    return "concat(" + ", chr(31), ".join(f"cast({q} AS string)" for q in qs) + ")"


def _dims_tagged(store: GraphStore, df: DataFrame, specs) -> None:
    """Fuse k single-key STRING dimension MERGEs from one sheet into ONE
    tagged explode + ONE distinct: the label rides as a data column
    through a single plan subtree (the node-upsert half of the
    edge-fusion pattern, round-6 VERDICT #6), split back per label only
    at the store boundary — k explode/distinct subtrees and k flush
    shuffles become 1, and the whole fan is TWO selectExpr strings
    instead of k column chains. ``specs`` = [(label, name_sql), ...]
    with ``name_sql`` a SQL expression string; labels with extra
    properties or non-string keys keep their own ``_dim``."""
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
    store.add_edges(
        row.selectExpr(
            "'Vcentercluster' AS src_label",
            f"{_key_sql('Name', UID)} AS src_key",
            "'CONTROLLED_BY_VC' AS rel_type",
            "'Vcenterserver' AS dst_label",
            f"{_key_sql(UID)} AS dst_key",
        )
    )


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
    # both edge families on one tagged explode (src label+key ride as
    # struct fields)
    fan = ", ".join(
        [
            f"struct('Vcenterbuild' AS sl, {_key_sql('build')} AS sk, "
            f"'BUILD_OF' AS r, 'Vcenterversion' AS dl, {_key_sql('vname')} AS dk)",
            f"struct('Vcenterserver' AS sl, {_key_sql('uid')} AS sk, "
            f"'IS_VCENTER_BUILD' AS r, 'Vcenterbuild' AS dl, {_key_sql('build')} AS dk)",
        ]
    )
    store.add_edges(
        parts.selectExpr(f"explode(array({fan})) AS __p").selectExpr(
            "__p.sl AS src_label", "__p.sk AS src_key",
            "__p.r AS rel_type", "__p.dl AS dst_label", "__p.dk AS dst_key",
        )
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
        parsed.join(vc, parsed[SERVER] == vc.__vcname)
        .join(vcc, (F.col("cluster") == vcc.__ccname) & (F.col(UID) == vcc.__ccuid), "inner")
        .drop("__ccname")
    )
    store.upsert_nodes(
        "Vspheredatacenter",
        joined.selectExpr(
            "datacenter AS name", f"{_bt(UID)} AS managedby"
        ).distinct(),
    )
    # both DC edge families on one tagged explode
    dc_key_sql = _key_sql("datacenter", UID)
    fan = ", ".join(
        [
            f"struct('Vcentercluster' AS sl, {_key_sql('cluster', UID)} AS sk, "
            f"'LOCATED_IN_DC' AS r, 'Vspheredatacenter' AS dl, {dc_key_sql} AS dk)",
            f"struct('Vspheredatacenter' AS sl, {dc_key_sql} AS sk, "
            f"'CONTROLLED_BY_VC' AS r, 'Vcenterserver' AS dl, {_key_sql(UID)} AS dk)",
        ]
    )
    store.add_edges(
        joined.selectExpr(f"explode(array({fan})) AS __p").selectExpr(
            "__p.sl AS src_label", "__p.sk AS src_key",
            "__p.r AS rel_type", "__p.dl AS dst_label", "__p.dk AS dst_key",
        )
    )
    # structural path parse (documented divergence — see module doc)
    pools = joined.selectExpr(
        "*",
        "element_at(split(resourcepool, '/'), -1) AS pool",
        "array_join(slice(split(resourcepool, '/'), 1,"
        " greatest(size(split(resourcepool, '/')) - 1, 1)), '/') AS parentpath",
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
    store.add_edges(
        pools.selectExpr(
            "'Vresourcepool' AS src_label",
            f"{_key_sql(SERVER, 'Resource pool')} AS src_key",
            "'MEMBER_OF_CLUSTER' AS rel_type",
            "'Vcentercluster' AS dst_label",
            f"{_key_sql('cluster', UID)} AS dst_key",
        )
    )
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
    store.add_edges(
        linked.selectExpr(
            "'Vresourcepool' AS src_label",
            f"{_key_sql('vc', 'path')} AS src_key",
            "'CHILD_RESOURCE_POOL' AS rel_type",
            "'Vresourcepool' AS dst_label",
            f"{_key_sql('vc', 'parent_path')} AS dst_key",
        )
    )


# --------------------------------------------------------------------------
# Stage: vHost → Vspherehost + 12 dimension links + domain tail
# --------------------------------------------------------------------------


def stage_vhost(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:73-103."""
    row = sheets["vHost"]
    vc = store.vertices("Vcenterserver").select(F.col("name").alias("__vcname"), F.col("uid").alias("__vcuid"))
    vcc = store.vertices("Vcentercluster").select(
        F.col("name").alias("__ccname"), F.col("managedby").alias("__ccuid")
    )
    joined = (
        row.join(vc, row[SERVER] == vc.__vcname)
        .join(vcc, (row["Cluster"] == vcc.__ccname) & (row[UID] == vcc.__ccuid))
    )
    host_key = node_key(F.col("Object ID"), F.col(UID))
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
    host_key_sql = _key_sql("Object ID", UID)

    # SQL-string twins of the dim expressions (the split delimiter has
    # no regex metacharacters, so SQL split == split_literal here)
    esx_ver_sql = _Raw("(split(`ESX Version`, ' build-')[0])")
    esx_build_sql = _Raw("(split(`ESX Version`, ' build-')[1])")
    vendor_sql = _Raw("(coalesce(Vendor, 'None Provided'))")
    model_sql = _Raw("(coalesce(Model, 'None Provided'))")
    bios_ver_sql = _Raw("(coalesce(`BIOS Version`, 'None Provided'))")

    # six plain string dims fuse through ONE tagged explode + distinct
    # (the stage_vinfo_vms _dims_tagged pattern); Vsphereesxbuild
    # (build key) and Biosversion (two-column key) keep their own
    # upserts below
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
    # nine dims): rel_type/dst_label ride as data columns through a
    # single explode instead of eleven sheet-scanning selects (same
    # fusion as stage_vinfo_vms; null dim values yield null dst_key,
    # dropped by merge like before) — the whole fan is one selectExpr
    # string
    host_fan = ", ".join(
        f"struct('{rel}' AS r, '{label}' AS l, {k} AS k)"
        for rel, label, k in [
            # the two structural rels ride the same fan as the nine
            # dim rels (round 8 — they were separate batches)
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
    )
    store.add_edges(
        joined.selectExpr(
            "'Vspherehost' AS src_label",
            f"{host_key_sql} AS src_key",
            f"explode(array({host_fan})) AS __p",
        ).selectExpr(
            "src_label", "src_key",
            "__p.r AS rel_type", "__p.l AS dst_label", "__p.k AS dst_key",
        )
    )
    store.add_edges(
        joined.selectExpr(
            "'Vsphereesxbuild' AS src_label",
            f"{_key_sql(esx_build_sql)} AS src_key",
            "'BUILD_OF' AS rel_type",
            "'Vsphereesxversion' AS dst_label",
            f"{_key_sql(esx_ver_sql)} AS dst_key",
        )
    )
    store.add_edges(
        joined.selectExpr(
            "'Biosversion' AS src_label",
            f"{_key_sql(bios_ver_sql, 'BIOS Date')} AS src_key",
            "'MANUFACTURED_BY' AS rel_type",
            "'Crmmanufacturer' AS dst_label",
            f"{_key_sql(vendor_sql)} AS dst_key",
        )
    )

    # domain tail (:100-103): 2-hop MATCH (cd:Clientdomain)--(co:Company)
    # through the seeded edge; inner semantics drop unseeded domains.
    # The hop reads edge_pairs, and drops null-keyed pairs as the
    # canonical edge merge does.
    cd = store.vertices("Clientdomain")
    if cd is not None:
        dom = F.coalesce(F.col("Domain"), F.lit("None Provided"))
        sym = store.edge_pairs("Clientdomain", "Company").selectExpr(
            "a_key AS __cdkey", "b_key AS __cokey"
        ).filter("__cdkey IS NOT NULL AND __cokey IS NOT NULL")
        tail = (
            joined.select("*", dom.alias("__dom"))
            .join(cd.select(F.col("name").alias("__dom")), "__dom")
            .join(sym, node_key("__dom") == sym.__cdkey)
        )
        store.add_edges(_edges(tail, "Vspherehost", host_key, "OF_DOMAIN",
                               "Clientdomain", node_key("__dom")))
        store.add_edges(_edges(tail, "Vspherehost", host_key, "ESX_HOST_FOR",
                               "Company", F.col("__cokey")))


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
    j = row.join(
        hosts,
        (row["Object ID"] == hosts.__objid) & (row["Host"] == hosts.__hname),
    )
    entries = (
        j.filter(F.col(col).isNotNull())
        .selectExpr(
            "__objid", "__huid", f"explode(split({_bt(col)}, ',')) AS raw"
        )
        .selectExpr("__objid", "__huid", "trim(raw) AS address")
    )
    is_ip = rlike_full(F.col("address"), IPV4_RE)
    classified = entries.select(
        "__objid", "__huid",
        F.when(is_ip, F.lit("ip")).otherwise(F.lit("fqdn")).alias("kind"),
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
    store.add_edges(
        classified.selectExpr(
            "'Vspherehost' AS src_label",
            f"{_key_sql('__objid', '__huid')} AS src_key",
            f"'{rel}' AS rel_type",
            f"'{label}' AS dst_label",
            f"{_key_sql('kind', 'address')} AS dst_key",
        )
    )


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
    return (
        row.join(
            linked,
            (row["Host"] == linked.__hname)
            & (row["Cluster"] == linked.__cname)
            & (row[UID] == linked.__cuid),
        )
    )


def stage_vswitch(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:142-152 (+ the J6 Jumboframes theta join)."""
    j = _rows_host_cluster(store, sheets["vSwitch"])
    sw_key_sql = _key_sql("Switch", "Host")
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
    # both per-switch edge families on ONE tagged explode (the vInfo
    # fan pattern): null Policy nulls that struct's dst_key → dropped
    fan = ", ".join(
        [
            "struct('VSWITCH_FOR_HOST' AS r, 'Vspherehost' AS l, __hkey AS k)",
            "struct('LOAD_BALANCING_POLICY' AS r, 'Vlbpolicy' AS l, "
            "cast(Policy AS string) AS k)",
        ]
    )
    store.add_edges(
        j.selectExpr(
            "'Vswitch' AS src_label",
            f"{sw_key_sql} AS src_key",
            f"explode(array({fan})) AS __p",
        ).selectExpr(
            "src_label", "src_key",
            "__p.r AS rel_type", "__p.l AS dst_label", "__p.k AS dst_key",
        )
    )
    # Jumboframes (:151-152): cartesian with the 1-row seed, theta mtu>=9000
    jumbo = store.vertices("Jumboframes")
    if jumbo is not None:
        big = j.filter("try_cast(MTU AS int) >= 9000").crossJoin(
            F.broadcast(
                jumbo.filter(F.col("name") == "enabled").selectExpr("name AS __jmb")
            )
        )
        store.add_edges(
            big.selectExpr(
                "'Vswitch' AS src_label",
                f"{sw_key_sql} AS src_key",
                "'HAS_JUMBO_FRAMES' AS rel_type",
                "'Jumboframes' AS dst_label",
                "cast(__jmb AS string) AS dst_key",
            )
        )


def stage_vport(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:155-163."""
    j = _rows_host_cluster(store, sheets["vPort"])
    vsw = store.vertices("Vswitch").selectExpr(
        "name AS __swname", "host AS __swhost",
        f"{_key_sql('name', 'host')} AS __swkey",
    )
    j = j.join(vsw, (j["Switch"] == vsw.__swname) & (j["Host"] == vsw.__swhost))
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
    # the three edge families on ONE tagged explode; src label AND key
    # ride as struct fields (two come from Vhostportgroup, one from the
    # matched Vswitch)
    pg_key_sql = _key_sql("Port Group", "Host", UID)
    fan = ", ".join(
        [
            f"struct('Vhostportgroup' AS sl, {pg_key_sql} AS sk, 'HOST_PG_FOR' AS r, "
            f"'Vportgroup' AS dl, {_key_sql('Port Group', UID)} AS dk)",
            f"struct('Vhostportgroup' AS sl, {pg_key_sql} AS sk, 'STANDARD_PG_ON' AS r, "
            "'Vspherehost' AS dl, __hkey AS dk)",
            "struct('Vswitch' AS sl, __swkey AS sk, 'LOAD_BALANCING_POLICY' AS r, "
            f"'Vlbpolicy' AS dl, {_key_sql(pol_sql)} AS dk)",
        ]
    )
    store.add_edges(
        j.selectExpr(f"explode(array({fan})) AS __p").selectExpr(
            "__p.sl AS src_label", "__p.sk AS src_key",
            "__p.r AS rel_type", "__p.dl AS dst_label", "__p.dk AS dst_key",
        )
    )


def stage_vnic(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:166-176."""
    j = _rows_host_cluster(store, sheets["vNIC"])
    vsw = store.vertices("Vswitch").selectExpr(
        "name AS __swname", "host AS __swhost",
        f"{_key_sql('name', 'host')} AS __swkey",
    )
    j = j.join(vsw, (j["Switch"] == vsw.__swname) & (j["Host"] == vsw.__swhost))
    speed_sql = _Raw("(coalesce(Speed, 'No link'))")
    driver_sql = _Raw("(coalesce(Driver, 'None Provided'))")
    nic_key_sql = _key_sql("Network Device", "Host")
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
    # the four edge families on ONE tagged explode (three from Vmnic,
    # one from the matched Vswitch)
    fan = ", ".join(
        [
            f"struct('Vmnic' AS sl, {nic_key_sql} AS sk, 'USES_DRIVER' AS r, "
            f"'Vmnicdriver' AS dl, {_key_sql(driver_sql)} AS dk)",
            f"struct('Vmnic' AS sl, {nic_key_sql} AS sk, 'LINK_SPEED' AS r, "
            f"'Vmnicspeed' AS dl, {_key_sql(speed_sql)} AS dk)",
            f"struct('Vmnic' AS sl, {nic_key_sql} AS sk, 'PNIC_OF_HOST' AS r, "
            "'Vspherehost' AS dl, __hkey AS dk)",
            "struct('Vswitch' AS sl, __swkey AS sk, 'NETWORK_ADAPTERS' AS r, "
            f"'Vmnic' AS dl, {nic_key_sql} AS dk)",
        ]
    )
    store.add_edges(
        j.selectExpr(f"explode(array({fan})) AS __p").selectExpr(
            "__p.sl AS src_label", "__p.sk AS src_key",
            "__p.r AS rel_type", "__p.dl AS dst_label", "__p.dk AS dst_key",
        )
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
    vm_key = node_key(F.col("VM UUID"), F.col(UID))
    folder_head = F.element_at(split_literal(F.col("Folder"), "/"), 2)
    rp_cluster = F.element_at(split_literal(F.col("Resource pool"), "/"), 3)

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
    vcpu_name = F.concat(F.col("CPUs").cast("string"), F.lit(" vCPUs"))
    _dim(store, row, "Vcpus", vcpu_name, extra={"qty": try_int(F.col("CPUs"))})
    hw_name = try_int(F.col("HW version"))
    store.upsert_nodes(
        "Vhwver", row.select(hw_name.alias("name")).filter(hw_name.isNotNull()).distinct()
    )
    # HW_VERSION carries the one edge property in the whole reference
    # (cypher:187,212 SET r.upgradestatus) — first-class via the store's
    # props map; readable off a written snapshot (edges_with_props).
    store.add_edges(
        _edges(
            row, "Virtualmachine", vm_key, "HW_VERSION", "Vhwver", node_key(hw_name),
            props={"upgradestatus": F.col("HW upgrade status")},
        )
    )

    # FOREACH-CASE conditionals (M6, :199-203) → filtered sub-upserts
    rp_cond = F.col("Resource pool").isNotNull() & (F.size(split_literal(F.col("Resource pool"), "/")) > 4)
    rp_rows = row.filter(rp_cond)
    store.upsert_nodes(
        "Vresourcepool",
        rp_rows.select(
            F.col(SERVER).alias("vc"),
            F.col("Resource pool").alias("path"),
            path_last("Resource pool").alias("name"),
        ),
    )
    fl_cond = F.col("Folder").isNotNull() & (F.size(split_literal(F.col("Folder"), "/")) > 2)
    fl_rows = row.filter(fl_cond)
    store.upsert_nodes(
        "Vfolder",
        fl_rows.select(F.col("Folder").alias("path"), path_last("Folder").alias("name")),
    )

    # ONE tagged explode for the ten per-VM edge families (five state
    # dims, HAS_VCPUS, two OS rels, the two M6 conditional rels):
    # rel_type/dst_label ride as data columns; a null dst_key — null
    # dim value, or a FOREACH-CASE condition that's false — drops the
    # row in merge exactly like the former per-rel filters did. One
    # plan subtree + one edge batch where there were ten (round-6: 11
    # subtrees fused to 3; round-7 finishes the job — py4j plan
    # chatter and the edges() union width both shrink ~3×). The
    # matching node upserts for the plain string dims fuse the same
    # way (_dims_tagged); Vcpus keeps its own _dim (extra qty prop)
    # and Vhwver its own upsert (int key).
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
    vm_key_sql = _key_sql("VM UUID", UID)
    rp_cond_sql = (
        f"{_bt('Resource pool')} IS NOT NULL "
        f"AND size(split({_bt('Resource pool')}, '/')) > 4"
    )
    fl_cond_sql = (
        f"{_bt('Folder')} IS NOT NULL AND size(split({_bt('Folder')}, '/')) > 2"
    )
    vcpu_name_sql = _Raw("(concat(cast(CPUs AS string), ' vCPUs'))")
    fan = ", ".join(
        [
            f"struct('{rel}' AS r, '{label}' AS l, {_key_sql(col)} AS k)"
            for rel, label, col in state_dims
        ]
        + [f"struct('HAS_VCPUS' AS r, 'Vcpus' AS l, {_key_sql(vcpu_name_sql)} AS k)"]
        + [
            f"struct('{rel}' AS r, 'Vmos' AS l, {_key_sql(col)} AS k)"
            for rel, col in os_dims
        ]
        + [
            "struct('IN_RESOURCE_POOL' AS r, 'Vresourcepool' AS l, "
            f"CASE WHEN {rp_cond_sql} THEN "
            f"{_key_sql(SERVER, 'Resource pool')} END AS k)",
            "struct('IN_FOLDER' AS r, 'Vfolder' AS l, "
            f"CASE WHEN {fl_cond_sql} THEN {_key_sql('Folder')} END AS k)",
        ]
    )
    store.add_edges(
        row.selectExpr(
            "'Virtualmachine' AS src_label",
            f"{vm_key_sql} AS src_key",
            f"explode(array({fan})) AS __p",
        ).selectExpr(
            "src_label", "src_key",
            "__p.r AS rel_type", "__p.l AS dst_label", "__p.k AS dst_key",
        )
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
        f"{vm_key_sql} AS __vmk",
        f"{_bt(UID)} AS __uid",
        f"explode(array({nets})) AS __net",
    )
    store.upsert_nodes(
        "Vportgroup",
        net_rows.selectExpr("__net AS name", "__uid AS managedby").distinct(),
    )
    store.add_edges(
        net_rows.selectExpr(
            "'Virtualmachine' AS src_label",
            "__vmk AS src_key",
            "'IN_PORTGROUP' AS rel_type",
            "'Vportgroup' AS dst_label",
            f"{_key_sql('__net', '__uid')} AS dst_key",
        )
    )

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
    folders = F.broadcast(
        store.vertices("Vfolder").select(F.col("path").alias("__flpath"))
    )
    pools = F.broadcast(
        store.vertices("Vresourcepool").select(
            F.col("vc").alias("__rpvc"), F.col("path").alias("__rppath")
        )
    )
    vdc = F.broadcast(
        store.vertices("Vspheredatacenter").select(
            F.col("name").alias("__dcname"), F.col("managedby").alias("__dcuid")
        )
    )
    vcc = F.broadcast(
        store.vertices("Vcentercluster").select(
            F.col("name").alias("__ccname"), F.col("managedby").alias("__ccuid")
        )
    )

    t = (
        row.select(
            "*",
            vm_key.alias("__vmkey"),
            folder_head.alias("__fhead"),
            rp_cluster.alias("__rpcluster"),
        )
        # OPTIONAL MATCH vdc / vcc (:180-181)
        .join(vdc, (F.col("__fhead") == vdc.__dcname) & (F.col(UID) == vdc.__dcuid), "left")
        .join(vcc, (F.col("__rpcluster") == vcc.__ccname) & (F.col(UID) == vcc.__ccuid), "left")
        # OPTIONAL MATCH vfl {path:Folder} (:214)
        .join(folders, F.col("Folder") == folders.__flpath, "left")
        # OPTIONAL MATCH vrp {path:Resource pool} (:215) — scoped to vc
        .join(pools, (F.col("Resource pool") == pools.__rppath) & (F.col(SERVER) == pools.__rpvc), "left")
    )
    pf = pools.select(F.col("__rpvc").alias("__pvc"), F.col("__rppath").alias("__prppath"))
    ff = folders.select(F.col("__flpath").alias("__pflpath"))
    t = (
        t.withColumn("__flparent", F.when(F.col("__flpath").isNotNull(), path_parent("__flpath")))
        .withColumn("__rpparent", F.when(F.col("__rppath").isNotNull(), path_parent("__rppath")))
        # OPTIONAL MATCH parent folder / pool (:216-217)
        .join(ff, F.col("__flparent") == ff.__pflpath, "left")
        .join(pf, (F.col("__rpparent") == pf.__prppath) & (F.col(SERVER) == pf.__pvc), "left")
    )

    has_fl, has_pfl = "__flpath IS NOT NULL", "__pflpath IS NOT NULL"
    has_rp, has_prp = "__rppath IS NOT NULL", "__prppath IS NOT NULL"
    has_dc, has_cc = "__dcname IS NOT NULL", "__ccname IS NOT NULL"
    dc_key = _key_sql("__dcname", "__dcuid")
    cc_key = _key_sql("__ccname", "__ccuid")
    fl_key, pfl_key = _key_sql("__flpath"), _key_sql("__pflpath")
    rp_key = _key_sql(SERVER, "__rppath")
    prp_key = _key_sql(SERVER, "__prppath")

    # one tagged explode for the six hierarchy rels: src/dst label AND
    # src key ride as struct fields; a false OPTIONAL-MATCH condition
    # nulls both keys, which merge drops — identical rows to the six
    # former filter+select batches, one plan subtree + edge batch
    def _h(cond, sl, sk, r, dl, dk):
        return (
            f"struct('{sl}' AS sl, CASE WHEN {cond} THEN {sk} END AS sk, "
            f"'{r}' AS r, '{dl}' AS dl, CASE WHEN {cond} THEN {dk} END AS dk)"
        )

    hfan = ", ".join(
        [
            _h(f"{has_fl} AND {has_pfl}", "Vfolder", fl_key,
               "IN_FOLDER", "Vfolder", pfl_key),
            _h(f"{has_fl} AND NOT ({has_pfl}) AND {has_dc}", "Vfolder", fl_key,
               "LOCATED_IN_DC", "Vspheredatacenter", dc_key),
            _h(f"NOT ({has_fl}) AND {has_dc}", "Virtualmachine", "__vmkey",
               "LOCATED_IN_DC", "Vspheredatacenter", dc_key),
            _h(f"{has_rp} AND {has_prp}", "Vresourcepool", rp_key,
               "CHILD_RESOURCE_OF", "Vresourcepool", prp_key),
            _h(f"{has_cc} AND {has_rp} AND NOT ({has_prp})", "Vresourcepool", rp_key,
               "LOCATED_IN_CLUSTER", "Vcentercluster", cc_key),
            _h(f"{has_cc} AND NOT ({has_rp})", "Virtualmachine", "__vmkey",
               "LOCATED_IN_CLUSTER", "Vcentercluster", cc_key),
        ]
    )
    store.add_edges(
        t.selectExpr(f"explode(array({hfan})) AS __p").selectExpr(
            "__p.sl AS src_label",
            "__p.sk AS src_key",
            "__p.r AS rel_type",
            "__p.dl AS dst_label",
            "__p.dk AS dst_key",
        )
    )


# --------------------------------------------------------------------------
# Stage: vDatastore / vDisk / vNetwork / vPartition / vSnapshot
# --------------------------------------------------------------------------


def stage_vdatastore(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:228-240. Bug §0.2.4 (`ds.verion` typo) is
    fixed: the property is ``version``."""
    row = sheets["vDatastore"]
    vc = store.vertices("Vcenterserver").selectExpr("uid AS __vcuid")
    j = row.join(vc, row[UID] == vc.__vcuid)
    ds_key_sql = _key_sql("URL")
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
    # edge families on one tagged explode (null dim → null dst_key →
    # dropped in merge, same as the former _dim filters)
    _dims_tagged(
        store, j,
        [("Vconfigstatus", _bt("Config status")), ("Vdatastoretype", "Type")],
    )
    fan = ", ".join(
        [
            "struct('CONFIG_STATUS' AS r, 'Vconfigstatus' AS l, "
            f"{_key_sql('Config status')} AS k)",
            "struct('DATASTORE_TYPE' AS r, 'Vdatastoretype' AS l, "
            f"{_key_sql('Type')} AS k)",
        ]
    )
    store.add_edges(
        j.selectExpr(
            "'Vdatastore' AS src_label",
            f"{ds_key_sql} AS src_key",
            f"explode(array({fan})) AS __p",
        ).selectExpr(
            "src_label", "src_key",
            "__p.r AS rel_type", "__p.l AS dst_label", "__p.k AS dst_key",
        )
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
        .filter(F.col("__uid") == F.col("__huid"))
    )
    store.add_edges(
        exploded.selectExpr(
            "'Vspherehost' AS src_label",
            "__hkey AS src_key",
            "'CONNECTED_DATASTORE' AS rel_type",
            "'Vdatastore' AS dst_label",
            f"{_key_sql('URL')} AS dst_key",
        )
    )


def stage_vdisk(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:243-251: virtual disks + the datastore-name
    path parse ``[dsname] vm/vm.vmdk`` (§2.10-5) with the J5
    existence-qualified datastore join."""
    row = sheets["vDisk"]
    vms = store.vertices("Virtualmachine").selectExpr(
        "uuid AS __vmuuid", "managedby AS __vmuid",
        f"{_key_sql('uuid', 'managedby')} AS __vmkey",
    )
    j = row.join(vms, (row["VM UUID"] == vms.__vmuuid) & (row[UID] == vms.__vmuid))
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
    store.add_edges(
        j.selectExpr(
            "'Virtualdisk' AS src_label",
            f"{_key_sql('Path')} AS src_key",
            "'VDISK_FOR_VM' AS rel_type",
            "'Virtualmachine' AS dst_label",
            "__vmkey AS dst_key",
        )
    )
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
            (F.col("__parsed_ds") == qualified.__dsname)
            & (F.col("__uid") == qualified.__dsuid)
            & (F.col("Host") == qualified.__hname)
            & (F.col("__uid") == qualified.__huid2),
        )
        .select("__vdkey", "__dskey")
        .distinct()
    )
    store.add_edges(
        withds.selectExpr(
            "'Virtualdisk' AS src_label",
            "__vdkey AS src_key",
            "'ON_DATASTORE' AS rel_type",
            "'Vdatastore' AS dst_label",
            "__dskey AS dst_key",
        )
    )


def stage_vnetwork(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:254-263."""
    row = sheets["vNetwork"]
    vms = store.vertices("Virtualmachine").selectExpr(
        "uuid AS __vmuuid", "managedby AS __vmuid",
        f"{_key_sql('uuid', 'managedby')} AS __vmkey",
    )
    vc = store.vertices("Vcenterserver").selectExpr("name AS __vcname")
    j = (
        row.join(vc, row[SERVER] == vc.__vcname)
        .join(vms, (row["VM UUID"] == vms.__vmuuid) & (row[UID] == vms.__vmuid))
    )
    ad_key_sql = _key_sql("Mac Address", "VM UUID")
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
    # both per-adapter edge families on one tagged explode
    fan = ", ".join(
        [
            "struct('ADAPTER_FOR' AS r, 'Virtualmachine' AS l, __vmkey AS k)",
            f"struct('ADAPTER_TYPE' AS r, 'Vmadaptertype' AS l, {_key_sql('Adapter')} AS k)",
        ]
    )
    store.add_edges(
        j.selectExpr(
            "'Vmadapter' AS src_label",
            f"{ad_key_sql} AS src_key",
            f"explode(array({fan})) AS __p",
        ).selectExpr(
            "src_label", "src_key",
            "__p.r AS rel_type", "__p.l AS dst_label", "__p.k AS dst_key",
        )
    )
    # portgroup tail (:261-263): MATCH Vhostportgroup {name:Network,host,managedby}
    pg = store.vertices("Vhostportgroup").selectExpr(
        "name AS __pgname", "host AS __pghost", "managedby AS __pguid",
        f"{_key_sql('name', 'host', 'managedby')} AS __pgkey",
    )
    tail = j.join(
        pg,
        (j["Network"] == pg.__pgname) & (j["Host"] == pg.__pghost) & (j[UID] == pg.__pguid),
    )
    store.add_edges(
        tail.selectExpr(
            "'Vmadapter' AS src_label",
            f"{ad_key_sql} AS src_key",
            "'IN_PORTGROUP' AS rel_type",
            "'Vhostportgroup' AS dst_label",
            "__pgkey AS dst_key",
        )
    )


def stage_vpartition(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:266-270."""
    row = sheets["vPartition"]
    vms = store.vertices("Virtualmachine").selectExpr(
        "uuid AS __vmuuid", "managedby AS __vmuid",
        f"{_key_sql('uuid', 'managedby')} AS __vmkey",
    )
    vc = store.vertices("Vcenterserver").selectExpr("name AS __vcname")
    j = (
        row.join(vc, row[SERVER] == vc.__vcname)
        .join(vms, (row["VM UUID"] == vms.__vmuuid) & (row[UID] == vms.__vmuid))
    )
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
    store.add_edges(
        j.selectExpr(
            "'Vpartition' AS src_label",
            f"{_key_sql('Disk', 'VM UUID')} AS src_key",
            "'PARTITION_FOR' AS rel_type",
            "'Virtualmachine' AS dst_label",
            "__vmkey AS dst_key",
        )
    )


def stage_vsnapshot(store: GraphStore, sheets: Mapping[str, DataFrame]) -> None:
    """refresh-vmware.cypher:273-277."""
    row = sheets["vSnapshot"]
    vms = store.vertices("Virtualmachine").selectExpr(
        "uuid AS __vmuuid", "managedby AS __vmuid",
        f"{_key_sql('uuid', 'managedby')} AS __vmkey",
    )
    vc = store.vertices("Vcenterserver").selectExpr("name AS __vcname")
    j = (
        row.join(vc, row[SERVER] == vc.__vcname)
        .join(vms, (row["VM UUID"] == vms.__vmuuid) & (row[UID] == vms.__vmuid))
    )
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
    store.add_edges(
        j.selectExpr(
            "'Vsnapshot' AS src_label",
            f"{_key_sql('Name', 'VM UUID')} AS src_key",
            "'SNAPSHOT_OF' AS rel_type",
            "'Virtualmachine' AS dst_label",
            "__vmkey AS dst_key",
        )
    )


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
