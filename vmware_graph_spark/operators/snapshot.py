"""Snapshot diff — the mark-and-sweep refresh protocol, Spark-native.

The reference flags every node of the refreshed vCenter `unverified`,
re-asserts what the new export contains, and DETACH-DELETEs the rest
(refresh-vmware.cypher:26-31,527-530). On Spark there are no mutable
flags: the new snapshot is built purely from this run's input, and the
orphan set is a tenant-scoped anti-join (SURVEY §2.9). This is
embarrassingly parallel and shuffle-light: one hash-partitioned
anti-join per table on the natural key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    prev: DataFrame,
    curr: DataFrame,
    keys: Sequence[str],
    *,
    tenant_col: str | None = "managedby",
) -> DataFrame:
    """Rows of ``prev`` absent from ``curr`` — the swept orphans (J7/D2).

    Scoped like the reference's sweep: only tenants present in this
    run's input are eligible (refresh-vmware.cypher:28,529 scope the
    mark/sweep to ``n.managedby = vc.uid``). Other tenants' rows are
    never reported, exactly as their nodes are never flagged.
    """
    scoped = prev
    if tenant_col and tenant_col in prev.columns:
        tenant_keys = curr.select(tenant_col).distinct()
        scoped = prev.join(F.broadcast(tenant_keys), on=tenant_col, how="left_semi")
    return scoped.join(curr.select(*keys).distinct(), on=list(keys), how="left_anti")


def sweep_edges(edges: DataFrame, orphan_ids: DataFrame) -> DataFrame:
    """Drop edges incident (either endpoint) to orphaned vertices (D1).

    ``orphan_ids`` must have columns (label, key). The Cypher
    ``OPTIONAL MATCH (n)-[r]-() DELETE r`` on marked nodes
    (refresh-vmware.cypher:30-31) as ONE statement: per endpoint, a left
    join that keeps the rows it did not match — an anti-join written so
    that Catalyst leaves it above a union of edge batches. A LeftAnti
    join is pushed into every union branch (PushDownLeftSemiAntiJoin),
    which would sweep a refreshed store's prev batches one by one.
    ``edges`` keeps its column order.
    """
    return edges.sparkSession.sql(
        "SELECT e.* FROM {e} e "
        "LEFT JOIN {ids} s ON s.label = e.src_label AND s.key = e.src_key "
        "LEFT JOIN {ids} d ON d.label = e.dst_label AND d.key = e.dst_key "
        "WHERE s.key IS NULL AND d.key IS NULL",
        e=edges,
        ids=orphan_ids,
    )


def snapshot_changes(
    prev: DataFrame,
    curr: DataFrame,
    keys: Sequence[str],
    *,
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """CDC-style column-attributed diff between two snapshots:
    (keys…, change, changed_cols).

    ``change`` is 'added' (key only in ``curr``), 'removed' (only in
    ``prev``), or 'changed' (both sides, ≥1 compared column differs —
    null-safely, so null→value and value→null both count); unchanged
    keys are not reported. ``changed_cols`` lists the differing columns
    in schema order ('added'/'removed' rows get an empty list).

    This is what downstream consumers of the refresh protocol (§2.9)
    subscribe to instead of re-scanning snapshots: ONE full-outer hash
    join on the natural key, column comparison entirely map-side, and
    the output is the (typically tiny) change set — at 100 TB the join
    is the only shuffle and partition-prunes by tenant like the sweep.
    """
    cols = [c for c in (compare_cols or prev.columns) if c not in keys]
    missing = [c for c in cols if c not in curr.columns]
    if missing:
        raise ValueError(f"compare_cols absent from curr: {missing}")
    p = prev.select(*keys, *cols, F.lit(True).alias("__p")).alias("p")
    c = curr.select(*keys, *cols, F.lit(True).alias("__c")).alias("c")
    j = p.join(c, on=list(keys), how="full_outer")
    diffs = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.col(f"p.{col}").eqNullSafe(F.col(f"c.{col}")), F.lit(col)
                )
                for col in cols
            ]
        )
    )
    change = (
        F.when(F.col("p.__p").isNull(), F.lit("added"))
        .when(F.col("c.__c").isNull(), F.lit("removed"))
        .when(F.size(diffs) > 0, F.lit("changed"))
    )
    return (
        j.select(
            *keys,
            change.alias("change"),
            F.when(change == "changed", diffs)
            .otherwise(F.array().cast("array<string>"))
            .alias("changed_cols"),
        )
        .filter(F.col("change").isNotNull())
    )
