"""MERGE-family operators — the reference's defining primitive.

The reference issues ~247 Cypher MERGE clauses (node upsert by natural
key, SURVEY §2.4) and ~110 relationship MERGEs, many in the *undirected*
form ``(a)-[:T]-(b)`` which matches either direction. Re-expressed for
Spark's immutable, snapshot-oriented model:

- node MERGE  → deterministic last-writer-wins dedup on the key columns
  (window + row_number, never bare dropDuplicates — SURVEY "hard parts");
  a run of same-column batches is ONE window over their tagged union.
- MERGE…SET   → updates overwrite matched rows (new source wins).
- MERGE…ON CREATE SET → existing rows win; source only fills gaps.
- rel MERGE   → append + distinct on (src, rel_type, dst), with
  undirected types canonicalized by sorted endpoint pair so the same
  edge asserted in both directions dedups to one row.

Scale notes: all shapes are single-shuffle on the key columns; at 100 TB
the vertex tables are written bucketed by key so repeated refreshes
reuse the layout, and the window dedup becomes a per-bucket local sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PICK = "__merge_pick"
_PICK_ORD = "__pick_ord"


def _bt(name: str) -> str:
    """Backtick-quote an identifier for SQL-string expression building
    (RVTools column names carry spaces and '#')."""
    return "`" + name.replace("`", "``") + "`"


def _drop_null_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Cypher MERGE on a null key property fails that row; we drop (not
    insert) null-keyed rows (SURVEY §7 hard parts). Built as ONE SQL
    string: these helpers run per merge per label per batch, and the
    column-object chains were the largest driver-side plan-construction
    cost in a full ingest (round-6 VERDICT #6)."""
    if not keys:
        return df
    return df.filter(" AND ".join(f"{_bt(k)} IS NOT NULL" for k in keys))


def _pick(
    frames: Sequence[DataFrame], keys: Sequence[str], latest_first: bool = True
) -> DataFrame:
    """One row per non-null key from a run of frames with one column
    set, in the first frame's column order: ONE window over their union
    keeps ``row_number() = 1`` by (frame position, latest or earliest
    first; then every value column ASC NULLS LAST), which equals
    merging the frames one after another. The value order breaks ties
    inside a frame deterministically (the reference's row order is
    spreadsheet order, which Spark must not depend on). Key-only frames
    take a ``distinct``. SQL strings throughout (see _drop_null_keys)."""
    cols = frames[0].columns
    value_cols = [c for c in cols if c not in keys]
    tag = len(frames) > 1 and bool(value_cols)
    proj = [_bt(c) for c in cols]
    run = None
    for i, df in enumerate(frames):
        df = _drop_null_keys(df, keys)
        if len(frames) > 1:
            # positional union below: align every frame to one order
            df = df.selectExpr(*proj, *([f"{i} AS {_PICK_ORD}"] if tag else []))
        run = df if run is None else df.union(run)
    if not value_cols:
        return run.distinct()
    part = ", ".join(_bt(k) for k in keys)
    order = [f"{_bt(c)} ASC NULLS LAST" for c in value_cols]
    if tag:
        order.insert(0, f"{_PICK_ORD} {'DESC' if latest_first else 'ASC'}")
    rn = F.expr(f"row_number() OVER (PARTITION BY {part} ORDER BY {', '.join(order)})")
    return run.withColumn(_PICK, rn).filter(f"{_bt(_PICK)} = 1").selectExpr(*proj)


def upsert_last_writer_wins(
    existing: DataFrame | None,
    updates: DataFrame | Sequence[DataFrame],
    keys: Sequence[str],
    *,
    updates_win: bool = True,
    assume_unique_existing: bool = False,
) -> DataFrame:
    """Core upsert: one row per key, per-COLUMN merge semantics.

    ``updates`` is one frame or a run of frames with one column set,
    equal to upserting the frames one after another.

    ``updates_win=True``  → MERGE … SET   (refresh-vmware.cypher:35,39-40):
    for a matched key, every property the update batch *carries* (i.e.
    every column in ``updates``'s schema) is overwritten — including
    with null, matching Cypher ``SET n.x = null`` property removal —
    while properties only present on the existing row are preserved
    (earlier ingest stages' writes on the same node survive).

    ``updates_win=False`` → MERGE … ON CREATE SET
    (refresh-vmware.cypher:284-287): matched keys keep ALL existing
    properties; only brand-new keys take the update values.

    Shape: when ``existing`` carries the run's column set, per-column
    merge degenerates to whole-row pick: ``existing`` joins the run as
    frame 0 and the whole upsert is ONE ``_pick`` (union + window
    shuffle), keys first, then ``existing``'s value columns. Differing
    schemas take the general path: one pick per input and one
    full-outer hash join on the key. ``assume_unique_existing=True``
    (safe for merge outputs being re-merged, e.g. GraphStore chains)
    skips re-picking ``existing`` there — one less shuffle and a much
    shallower plan across a 15-stage ingest.
    """
    run = [updates] if isinstance(updates, DataFrame) else list(updates)
    if existing is None:
        return _pick(run, keys, updates_win)
    if set(run[0].columns) == set(existing.columns):
        value_cols = [c for c in existing.columns if c not in keys]
        head = existing.selectExpr(*[_bt(c) for c in (*keys, *value_cols)])
        return _pick([head, *run], keys, updates_win)
    updates = _pick(run, keys, updates_win)
    if assume_unique_existing:
        existing = _drop_null_keys(existing, keys)
    else:
        existing = _pick([existing], keys)

    u_cols = [c for c in updates.columns if c not in keys]
    e_cols = [c for c in existing.columns if c not in keys]
    u = updates.selectExpr("*", "true AS __u_present").alias("u")
    e = existing.selectExpr("*", "true AS __e_present").alias("e")
    joined = e.join(u, on=list(keys), how="full_outer")

    # ONE selectExpr: per-column CASEs as SQL text. Qualified refs are
    # backtick-escaped (`u`.`col`) — the former f"u.{c}" Column lookup
    # mis-parsed column names containing dots.
    u_matched = "u.`__u_present` IS NOT NULL"
    e_matched = "e.`__e_present` IS NOT NULL"
    out: list[str] = [_bt(k) for k in keys]
    for c in e_cols + [c for c in u_cols if c not in e_cols]:
        in_u, in_e = c in u_cols, c in e_cols
        qu, qe = f"u.{_bt(c)}", f"e.{_bt(c)}"
        if updates_win:
            if in_u and in_e:
                expr = f"CASE WHEN {u_matched} THEN {qu} ELSE {qe} END"
            elif in_u:
                expr = qu
            else:
                expr = qe
        else:
            if in_u and in_e:
                expr = f"CASE WHEN {e_matched} THEN {qe} ELSE {qu} END"
            elif in_e:
                expr = qe
            else:
                expr = f"CASE WHEN {e_matched} THEN NULL ELSE {qu} END"
        out.append(f"{expr} AS {_bt(c)}")
    return joined.selectExpr(*out)


def merge_nodes(
    existing: DataFrame | None,
    updates: DataFrame | Sequence[DataFrame],
    keys: Sequence[str],
    *,
    on_create_only: bool = False,
    assume_unique_existing: bool = False,
) -> DataFrame:
    """Node MERGE (M1-M3, SURVEY §2.4)."""
    return upsert_last_writer_wins(
        existing,
        updates,
        keys,
        updates_win=not on_create_only,
        assume_unique_existing=assume_unique_existing,
    )


# Relationship types the reference merges with the undirected pattern
# ``(a)-[:T]-(b)`` (refresh-vmware.cypher:41,76,173-174,248,251,257,259,276
# et al.). For these, (A)->(B) and (B)->(A) are the SAME edge.
EDGE_COLS = ["src_label", "src_key", "rel_type", "dst_label", "dst_key"]


def canonical_edges(edges: DataFrame, undirected_types: Sequence[str] = ()) -> DataFrame:
    """Canonicalize undirected-merged edges by sorted endpoint pair.

    For rel types in ``undirected_types``, swap endpoints when
    (dst_label, dst_key) < (src_label, src_key) so both assertions of the
    same undirected edge collapse under distinct. Directed types pass
    through untouched.
    """
    if not undirected_types:
        return edges
    # Native ordered struct comparison — field-wise, no string render
    # (a cast-to-string compare would collide on keys containing ', ').
    # ONE selectExpr: swap condition + the four CASEs as SQL strings
    # (see _drop_null_keys note on plan-construction cost).
    types = ", ".join("'" + t.replace("'", "''") + "'" for t in undirected_types)
    swap = (
        f"rel_type IN ({types}) AND "
        "struct(dst_label, dst_key) < struct(src_label, src_key)"
    )
    others = [
        c
        for c in edges.columns
        if c not in ("src_label", "src_key", "rel_type", "dst_label", "dst_key")
    ]
    return edges.selectExpr(
        f"CASE WHEN {swap} THEN dst_label ELSE src_label END AS src_label",
        f"CASE WHEN {swap} THEN dst_key ELSE src_key END AS src_key",
        "rel_type",
        f"CASE WHEN {swap} THEN src_label ELSE dst_label END AS dst_label",
        f"CASE WHEN {swap} THEN src_key ELSE dst_key END AS dst_key",
        *[_bt(c) for c in others],
    )


def merge_edges(
    updates: DataFrame,
    *,
    undirected_types: Sequence[str] = (),
    spread: bool = False,
) -> DataFrame:
    """Relationship MERGE (M4): distinct edge per (endpoints, type),
    projected to the 5-tuple. Edge properties take
    ``merge_edges_with_props``.

    ``spread=True`` (opt-in — the partition-count probe plans the
    updates lineage, so it must stay off the driver-planning-bound
    GraphStore path): when the updates scan yields fewer partitions
    than cores, repartition the CANONICALIZED edges on the endpoint
    keys before the dedup. hashpartitioning(src_key, dst_key) satisfies
    the distinct's clustering on the full 5-tuple, so the spread
    exchange IS the dedup exchange — one shuffle of the edge rows total
    instead of a generic rebalance plus the distinct's ENSURE exchange
    (2 Exchange → 1 in the plan; identical rows, exceptAll-checked both
    ways). Planning-only no-op at production scale.
    """
    # Null-filter BEFORE canonicalization: {canon_src_key, canon_dst_key}
    # is always a permutation of {src_key, dst_key}, so the conjunction
    # of IS NOT NULL over the pair is permutation-invariant — identical
    # rows survive. Ordered the other way, the pushed-down filter
    # re-evaluated the whole canonicalization CASE chain below the
    # exchange (the plan carried the swap expression twice per row).
    updates = _drop_null_keys(updates, ["src_key", "dst_key"])
    updates = canonical_edges(updates, undirected_types)
    if spread:
        target = updates.sparkSession.sparkContext.defaultParallelism
        if updates.rdd.getNumPartitions() < target:
            updates = updates.repartition(
                target, F.col("src_key"), F.col("dst_key")
            )
    return updates.select(*EDGE_COLS).distinct()


PROPS_COL = "props"
_EMPTY_PROPS = "cast(map() as map<string,string>)"


def _norm_props(df: DataFrame, keep: Sequence[str] = ()) -> DataFrame:
    """Project to EDGE_COLS (+ ``keep``) + a normalized ``props`` map
    (never null)."""
    if PROPS_COL in df.columns:
        p = F.coalesce(F.col(PROPS_COL).cast("map<string,string>"), F.expr(_EMPTY_PROPS))
    else:
        p = F.expr(_EMPTY_PROPS)
    return df.select(*EDGE_COLS, *keep, p.alias(PROPS_COL))


ORDER_COL = "__batch_ord"


def merge_edges_with_props(
    updates: DataFrame,
    *,
    undirected_types: Sequence[str] = (),
    order_col: str | None = None,
) -> DataFrame:
    """M4 with first-class edge properties as a ``props`` string map.

    The reference stores one edge property in the whole graph
    (``HW_VERSION.upgradestatus``, refresh-vmware.cypher:187,212); the
    generic map keeps the canonical edge schema fixed while any rel
    type can carry typed ride-alongs. Merge discipline: edge identity
    is the 5-tuple; per PROPERTY the LAST batch to assert a value wins
    (Cypher ``SET`` is last-writer-wins) — an optional ``order_col``
    carries the batch sequence (``GraphStore.add_edges`` stamps each
    batch with its process-wide assertion order). Within one batch,
    ties break on the greatest value so the result is deterministic —
    in the reference each edge prop is asserted by exactly one ingest
    statement, so that tie-break never fires on real workbooks.

    Scale shape: ``explode_outer`` emits zero extra rows for the
    (overwhelmingly common) empty-map edges, so the per-property dedup
    shuffle is proportional to prop-carrying assertions only; both
    groupBys hash on the edge 5-tuple — one logical repartition, AQE
    coalesces the second exchange. ``max_by`` over a (batch, value)
    struct is a single agg buffer, same cost as the plain ``max``.
    """
    if order_col:
        if order_col not in updates.columns:
            # a typo'd/dropped order column would silently demote
            # last-writer-wins to greatest-value-wins — fail loudly
            raise ValueError(
                f"order_col {order_col!r} not in updates columns "
                f"{updates.columns}"
            )
        updates = updates.withColumn(ORDER_COL, F.col(order_col).cast("long"))
    else:
        updates = updates.withColumn(ORDER_COL, F.lit(0).cast("long"))
    # Null-filter first — permutation-invariant over the endpoint pair
    # (see merge_edges); keeps the pushed-down filter off the
    # canonicalization CASE chain.
    updates = _drop_null_keys(updates, ["src_key", "dst_key"])
    updates = _norm_props(canonical_edges(updates, undirected_types), keep=(ORDER_COL,))
    kv = updates.select(
        *EDGE_COLS, ORDER_COL, F.explode_outer(PROPS_COL).alias("pk", "pv")
    )
    kv = kv.groupBy(*EDGE_COLS, "pk").agg(
        F.max_by("pv", F.struct(F.col(ORDER_COL), F.col("pv"))).alias("pv")
    )
    entry = F.when(F.col("pk").isNotNull(), F.struct("pk", "pv"))
    return kv.groupBy(*EDGE_COLS).agg(
        F.map_from_entries(F.array_sort(F.collect_list(entry))).alias(PROPS_COL)
    )
