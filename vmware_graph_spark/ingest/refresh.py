"""Refresh orchestration: the mark-and-sweep protocol, Spark-native.

The reference (refresh-vmware.cypher:26-31,527-530) marks every node of
the refreshed vCenter ``unverified``, deletes their relationships,
re-asserts from the new export, and DETACH-DELETEs what stayed marked.
Equivalent dataflow without mutable flags (SURVEY §2.9):

1. build the CURRENT snapshot purely from this run's sheets;
2. tenants := distinct ``VI SDK UUID`` in the input;
3. per label: orphans = tenant-scoped anti-join(prev, curr) on the
   natural key; survivors = per-column merge(prev, curr) minus orphans
   (re-asserted nodes keep properties the new run didn't set — exactly
   Cypher MERGE…SET on a pre-existing node);
4. edges: ALL prev edges incident to a marked (tenant-owned) node are
   dropped — the reference deletes every relationship of marked nodes,
   not just orphans' (cypher:30-31) — then current edges are merged in.

Labels without a ``managedby`` column (dimension nodes, Vfolder,
Virtualdisk, Vmadapter, Vpartition, Vsnapshot) are never swept, exactly
as the reference's ``n.managedby=vc.uid`` mark can't see them; their
stale rows persist node-only (edge-less) — same observable behavior.

Everything is anti-joins/upserts hash-partitioned on natural keys —
embarrassingly parallel, no driver iteration, 100 TB-safe.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vmware_graph_spark.ingest.stages import STAGE_SHEETS, STAGES, UID
from vmware_graph_spark.operators.merge import merge_nodes
from vmware_graph_spark.operators.snapshot import snapshot_diff, sweep_edges
from vmware_graph_spark.store.graph import LABEL_KEYS, GraphStore, node_key

SEED_LABELS = {"clientdomain": "Clientdomain", "company": "Company", "jumboframes": "Jumboframes"}


def load_seeds(store: GraphStore, seeds: Mapping[str, DataFrame]) -> None:
    """Pre-seed the MATCH-only labels (SURVEY §0.2.7): Clientdomain,
    Company, Jumboframes and the Clientdomain—Company edges."""
    for table, label in SEED_LABELS.items():
        if table in seeds:
            store.upsert_nodes(label, seeds[table].select(F.col("name")))
    if "seed_edges" in seeds:
        store.add_edges(seeds["seed_edges"])


def run_ingest(
    spark: SparkSession,
    sheets: Mapping[str, DataFrame],
    seeds: Mapping[str, DataFrame] | None = None,
) -> GraphStore:
    """One full snapshot build: seeds, then the 15 per-sheet stages in
    reference statement order. Stages whose sheet the workbook doesn't
    carry are skipped — the reference's per-sheet apoc.load.xls
    statements likewise just load nothing for an absent sheet."""
    store = GraphStore(spark)
    if seeds:
        load_seeds(store, seeds)
    for stage in STAGES:
        if STAGE_SHEETS[stage] in sheets:
            stage(store, sheets)
    return store


class RefreshResult:
    """Refresh outcome: the post-sweep store plus the orphan id set.

    ``store`` is assembled LAZILY on first access. Its edge tables are
    built from ``sweep_edges`` over BOTH snapshots' full edge unions —
    ~11 s of pure driver-side plan construction at sf0.1 (the edge
    batches are lazy-checkpoint chains, and ``edges_with_props`` flushes
    and re-plans every one of them) — and consumers that only read
    ``orphans`` (the sweep audit query, the incremental diff paths)
    never execute any of it. Accessing ``.store`` builds exactly the
    store the former eager field held: node tables were attached during
    the label loop; only the edge sweep + merge moves to first use.

    Constructible as ``RefreshResult(store, orphans)`` — the init
    parameter is named ``store`` (API compatibility with the pre-lazy
    dataclass; ADVICE r12). The finisher runs exactly once even under
    concurrent first accesses (lock-guarded swap).
    """

    def __init__(
        self,
        store: GraphStore,
        orphans: DataFrame,  # (label, key) removed by the sweep
        _finish_edges: "Callable[[GraphStore], None] | None" = None,
    ) -> None:
        self._store = store
        self.orphans = orphans
        self._finish_edges = _finish_edges
        self._finish_lock = threading.Lock()

    @property
    def store(self) -> GraphStore:
        if self._finish_edges is not None:
            with self._finish_lock:
                if self._finish_edges is not None:
                    fin, self._finish_edges = self._finish_edges, None
                    fin(self._store)
        return self._store


def _empty_ids(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "label string, key string")


def refresh(
    spark: SparkSession,
    sheets: Mapping[str, DataFrame],
    seeds: Mapping[str, DataFrame] | None = None,
    prev: GraphStore | None = None,
) -> RefreshResult:
    curr = run_ingest(spark, sheets, seeds)
    if prev is None:
        return RefreshResult(curr, _empty_ids(spark))

    # tenant scope: the vCluster sheet names the vCenters being
    # refreshed (cypher:26-28); tiny driver-side list by construction.
    tenants = [r[0] for r in sheets["vCluster"].select(UID).distinct().collect()]

    final = GraphStore(spark)
    orphan_parts: list[DataFrame] = []
    marked_parts: list[DataFrame] = []

    for label in sorted(set(prev.labels()) | set(curr.labels())):
        keys = LABEL_KEYS[label]
        p, c = prev.vertices(label), curr.vertices(label)
        if p is None:
            final._vertices[label] = c
            continue
        swept = "managedby" in p.columns
        if swept:
            marked = p.filter(F.col("managedby").isin(tenants))
            marked_parts.append(
                marked.select(F.lit(label).alias("label"), node_key(*keys).alias("key"))
            )
            if c is None:
                orphans_l = marked
            else:
                orphans_l = snapshot_diff(
                    marked, c, keys, tenant_col="managedby", tenants=tenants
                )
            orphan_parts.append(
                orphans_l.select(F.lit(label).alias("label"), node_key(*keys).alias("key"))
            )
            merged = merge_nodes(p, c, keys) if c is not None else p
            final._vertices[label] = merged.join(
                orphans_l.select(*keys).distinct(), list(keys), "left_anti"
            )
        else:
            final._vertices[label] = merge_nodes(p, c, keys) if c is not None else p

    orphans = _empty_ids(spark)
    for part in orphan_parts:
        orphans = orphans.unionByName(part)
    marked = _empty_ids(spark)
    for part in marked_parts:
        marked = marked.unionByName(part)

    # edge refresh: drop every prev edge incident to a marked node
    # (cypher:30-31), then merge the rebuilt edges in. Props ride along
    # (sweep_edges anti-joins preserve every edge column). Deferred to
    # first ``.store`` access — see RefreshResult.
    def _finish_edges(final_store: GraphStore) -> None:
        final_store.add_edges(sweep_edges(prev.edges_with_props(), marked))
        final_store.add_edges(curr.edges_with_props())

    return RefreshResult(final, orphans, _finish_edges)
