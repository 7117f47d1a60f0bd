"""Bulk graph analytics over (vertices, edges) DataFrames.

The reference delegates querying to Neo4j/Cypher; per the north star
("GraphX for analytics, not OLTP traversal") we provide the bulk
algorithms directly on DataFrames — no GraphFrames dependency, the same
join-iterate shape GraphX/Pregel uses, expressed in Spark SQL so AQE
handles sizing.

Inputs: vertices(id: string), edges(src: string, dst: string).
Edges are treated as undirected for CC/degrees; PageRank is directed.

Scale notes: each iteration is one shuffle on vertex id. Lineage is cut
with localCheckpoint per iteration (on a cluster: reliable checkpoint
dir) — without it the plan doubles every round. Loops that run to a
fixpoint gate on a cheap count (or count+sum) and confirm with one exact
probe (``_same_rows``). Connected components is large-star/small-star
contraction (Kiveris et al., "Connected Components in MapReduce and
Beyond") — O(log n) rounds whatever the diameter, finished by a bounded
driver-side union-find.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def degrees(edges: DataFrame) -> DataFrame:
    """Undirected degree per vertex id (parallel edges count once each)."""
    both = edges.select(F.col("src").alias("id")).unionAll(
        edges.select(F.col("dst").alias("id"))
    )
    return both.groupBy("id").agg(F.count("*").alias("degree"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle count (GraphFrames ``triangleCount`` analog).

    Edges are canonicalized to ``u < v`` and deduplicated, then each
    triangle ``u < v < w`` is found once by the two-join wedge-closure:
    (u,v)⋈(v,w) forms wedges, closed by probing (u,w). Each vertex of a
    found triangle contributes 1. Scale: two equi-joins on vertex keys —
    the standard distributed formulation; for skewed degree
    distributions the high-degree side can additionally be handled by
    degree-ordering the canonicalization (each edge is directed from
    the lower-degree endpoint), which bounds wedge fan-out.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    per_vertex = (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("b").alias("id")))
        .unionAll(tri.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    return per_vertex


def _sym(edges: DataFrame) -> DataFrame:
    # Emit both directions from ONE pass over the input instead of a
    # two-branch unionAll: the union shape executes the caller's edge
    # lineage twice (the branches canonicalize differently, so no
    # exchange reuse fires). Identical output multiset, half the
    # upstream compute.
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def label_propagation(
    vertices: DataFrame, edges: DataFrame, *, iters: int = 3
) -> DataFrame:
    """Synchronous label-propagation community detection. Returns
    (id, label) after exactly ``iters`` rounds (GraphFrames
    ``labelPropagation`` analog, made deterministic).

    Each round every vertex adopts the label most frequent among its
    neighbors (undirected; the vertex's own label does NOT vote),
    breaking count ties by the smaller label — the standard LPA vote
    with a total tie order, so the result is a pure function of the
    graph, independent of partitioning and retries (GraphFrames uses
    hash-based tie-breaks and warns its output is nondeterministic;
    a fixed iteration count is the convention since LPA does not
    converge in general — it oscillates on bipartite structures).

    Scale: per round one shuffle keyed on (vertex, label) for the vote
    count and one window per vertex for the arg-max — the same
    join-aggregate skeleton as PageRank, lineage-cut per round.
    Isolated vertices keep their own label.
    """
    # Co-partitioned loop layout (guide §2.4, the pagerank shape): sym
    # hash(dst) — the vote probe's join key — and labels
    # hash(id), both established once (hash(dst) also satisfies the
    # edge dedup's (src, dst) clustering). Per round the probe join and
    # the winners merge are exchange-free; the single exchange is the
    # vote repartition to hash(src), behind which the (src, label)
    # count, the per-id window and the arg-max all run partition-local.
    p = int(vertices.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sym = (
        _sym(edges).repartition(p, "dst").dropDuplicates().localCheckpoint(eager=True)
    )
    labels = (
        vertices.select("id", F.col("id").alias("label"))
        .repartition(p, "id")
        .localCheckpoint(eager=True)
    )
    # One templated SQL statement per round (same driver-cost cut as
    # the CC/PageRank rounds, r13): identical plan — the REPARTITION
    # hint reproduces the pre-aggregation hash(src) layout behind which
    # the vote count and the arg-max window run partition-local.
    for _ in range(iters):
        labels = labels.sparkSession.sql(
            f"""
            SELECT l.id, coalesce(w.label, l.label) AS label
            FROM {{labels}} l LEFT JOIN (
              SELECT id, label FROM (
                SELECT id, label,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY c DESC, label ASC) AS __rn
                FROM (
                  SELECT src AS id, label, count(*) AS c FROM (
                    SELECT /*+ REPARTITION({p}, src) */ s.src, l2.label
                    FROM {{sym}} s JOIN {{labels}} l2 ON s.dst = l2.id
                  ) GROUP BY src, label
                )
              ) WHERE __rn = 1
            ) w ON l.id = w.id
            """,
            labels=labels,
            sym=sym,
        ).localCheckpoint(eager=True)
    return labels


def hits(
    vertices: DataFrame, edges: DataFrame, *, iters: int = 2
) -> DataFrame:
    """HITS hubs-and-authorities, unnormalized integer power iteration.
    Returns (id, hub, authority) after exactly ``iters`` rounds.

    Classic HITS normalizes each round; for a FIXED iteration count the
    normalization only rescales (the ranking is unchanged), so this
    implementation keeps pure bigint accumulation — h₀=1,
    aᵢ = Σ_incoming hᵢ₋₁, hᵢ = Σ_outgoing aᵢ — which is exactly
    reproducible in any engine (no float summation order to pin) and
    lets the oracle unroll the rounds in SQL. Scale: two shuffles per
    round keyed on vertex id (the same join-aggregate skeleton as
    PageRank), lineage-cut per round; isolated vertices carry 0s.
    """
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    h = vertices.select("id", F.lit(1).cast("bigint").alias("hub"))
    a = None
    for _ in range(iters):
        a = (
            e.join(h.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("authority"))
        )
        h = (
            e.join(a.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("authority").alias("hub"))
        ).localCheckpoint(eager=True)
    out = (
        vertices.select("id")
        .join(h, "id", "left")
        .join(a, "id", "left")
        .select(
            "id",
            F.coalesce("hub", F.lit(0)).cast("bigint").alias("hub"),
            F.coalesce("authority", F.lit(0)).cast("bigint").alias("authority"),
        )
    )
    return out


def k_core(
    edges: DataFrame, k: int, *, rounds: int | None = None, max_iters: int = 50
) -> DataFrame:
    """The k-core of an undirected graph: iteratively peel vertices of
    degree < k until none remain. Returns surviving (id, core_degree).

    Two modes:
    - ``rounds=None`` (library default): peel to the fixpoint, raising
      if ``max_iters`` rounds don't reach it (a silent partial peel
      would overstate the core).
    - ``rounds=R``: exactly R synchronous peel rounds — the
      deterministic finite unrolling an external oracle can replay.

    Scale: each round is one degree aggregation plus two semi-joins
    (both endpoints must survive), lineage-cut per round — the standard
    distributed k-core; the number of rounds is bounded by the
    degeneracy ordering depth, typically ≪ vertex count. Parallel
    edges/self-loops are removed up front (degree = distinct
    neighbors).
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_rounds = rounds if rounds is not None else max_iters
    converged = rounds is not None  # fixed-round mode needs no fixpoint
    prev_cnt = e.count() if rounds is None else None
    spark = edges.sparkSession
    for _ in range(n_rounds):
        # One templated SQL statement per peel round (r13 driver-cost
        # cut; identical plan) and the previous edge count carried in a
        # variable instead of re-counting the materialized checkpoint.
        e2 = spark.sql(
            f"""
            WITH deg AS (
              SELECT id, count(*) AS degree FROM (
                SELECT u AS id FROM {{e}} UNION ALL SELECT v AS id FROM {{e}}
              ) GROUP BY id
            ),
            keep AS (SELECT id FROM deg WHERE degree >= {int(k)})
            SELECT u, v FROM {{e}} e
            LEFT SEMI JOIN keep k1 ON e.u = k1.id
            LEFT SEMI JOIN keep k2 ON e.v = k2.id
            """,
            e=e,
        ).localCheckpoint(eager=True)
        if rounds is None:
            new_cnt = e2.count()
            if new_cnt == prev_cnt:
                e = e2
                converged = True
                break
            prev_cnt = new_cnt
        e = e2
    if not converged:
        raise RuntimeError(
            f"k_core did not reach a fixpoint in {max_iters} rounds; raise max_iters"
        )
    return (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("core_degree"))
    )


def _pagerank_round(
    vertices: DataFrame,
    edges: DataFrame,
    ranks: DataFrame,
    out_tab: DataFrame,
    *,
    contrib_sql: str,
    dangling_sql: str,
    update_sql: str,
) -> DataFrame:
    """One PageRank-family round as a single templated spark.sql call.

    The DataFrame-API round (2 joins + agg + anti-join agg + cross join
    + select) eagerly analyzed ~12 intermediates per iteration; fusing
    the round into one SQL statement keeps the identical logical plan
    (verified: same exchanges, broadcast hint preserved) at one analysis
    pass — the same driver-cost cut measured for the CC round (r13).
    Aliases available to the fragments: e/r/o (contribution subquery),
    r2/o2 (dangling subquery), v/c/dg (update row)."""
    return vertices.sparkSession.sql(
        f"""
        SELECT /*+ BROADCAST(dg) */ v.id, {update_sql} AS rank
        FROM {{vertices}} v
        LEFT JOIN (
          SELECT e.dst AS id, sum({contrib_sql}) AS in_sum
          FROM {{edges}} e JOIN {{ranks}} r ON e.src = r.id
          JOIN {{out_tab}} o ON e.src = o.src
          GROUP BY e.dst
        ) c ON v.id = c.id
        CROSS JOIN (
          SELECT {dangling_sql} AS __dangling
          FROM {{ranks}} r2 LEFT ANTI JOIN {{out_tab}} o2 ON r2.id = o2.src
        ) dg
        """,
        vertices=vertices,
        edges=edges,
        ranks=ranks,
        out_tab=out_tab,
    ).localCheckpoint(eager=True)


def _pagerank_iterate(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    out_agg: Column,
    init_rank: Column,
    iters: int,
    contrib_sql: str,
    dangling_sql: str,
    update_sql: str,
) -> DataFrame:
    """The loop every PageRank variant shares, over the caller's pinned
    ``vertices`` (hashed on id): pin the edges hashed on src, pin and
    count the per-src ``out_agg`` table (one job materializing both
    pins), materialize ``init_rank`` as the round-0 ranks, then run
    ``iters`` :func:`_pagerank_round` calls. Returns (id, rank)."""
    p = int(vertices.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    edges = edges.repartition(p, "src").localCheckpoint(eager=False)
    out_tab = edges.groupBy("src").agg(out_agg).localCheckpoint(eager=False)
    out_tab.count()
    ranks = vertices.select("id", init_rank.alias("rank")).localCheckpoint(eager=True)
    for _ in range(iters):
        ranks = _pagerank_round(
            vertices,
            edges,
            ranks,
            out_tab,
            contrib_sql=contrib_sql,
            dangling_sql=dangling_sql,
            update_sql=update_sql,
        )
    return ranks


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Classic iterative PageRank on directed edges. Returns (id, rank).

    Dangling mass is redistributed uniformly each round so ranks sum to
    |V| (GraphX convention is un-normalized; we normalize to sum=|V|).
    """
    # Pin the loop invariants once: vertices, edges and out_deg sit in
    # EVERY iteration's plan, so without truncation each round re-runs
    # the caller's full graph-build lineage (vertices 1x, edges 1x,
    # out_deg 2x per round). The vertices pin is materialized by the
    # n-count it already pays; the out_deg count materializes both the
    # edges pin (its input) and itself in one job.
    #
    # CO-PARTITIONED layout (guide §2.4): edges hash on src,
    # vertices/ranks hash on id, established ONCE at pin time and
    # preserved by every round's checkpoint — the edges⋈ranks probe,
    # the out_deg join (and its aggregation, which runs exchange-free
    # behind the src layout), the dangling anti-join and the
    # vertices⟕contribs merge are then all exchange-free; the only
    # per-round exchange is the contribution aggregation re-keying
    # src→dst.
    p = int(vertices.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    vertices = vertices.repartition(p, "id").localCheckpoint(eager=False)
    n = vertices.count()
    # Dangling mass stays in the plan: a 1-row aggregate broadcast into
    # the update — no driver collect, one job per iteration. The round
    # itself is one templated SQL statement (see _pagerank_round).
    return _pagerank_iterate(
        vertices,
        edges,
        out_agg=F.count("*").alias("out_deg"),
        init_rank=F.lit(1.0),
        iters=iters,
        contrib_sql="r.rank / o.out_deg",
        dangling_sql="coalesce(sum(r2.rank), 0.0D)",
        update_sql=(
            f"{1.0 - damping!r}D + {damping!r}D * "
            f"(coalesce(c.in_sum, 0.0D) + dg.__dangling / {float(n)!r}D)"
        ),
    )


def pagerank_fixed(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic fixed-point PageRank: (id, rank_micros: bigint).

    Same dataflow as :func:`pagerank` (one shuffle per iteration,
    dangling mass as an in-plan 1-row broadcast, no driver collect) but
    ALL arithmetic is scaled 64-bit integer with floor division, so the
    result is bit-identical regardless of engine, partitioning, or
    summation order — float PageRank's per-partition sum order wiggles
    the low bits, which makes exact cross-engine verification
    impossible; this variant is the auditable twin. Update rule:

        r' = (100-d)*scale/100 + (d * (in_sum + dangling div n)) div 100
        where in_sum = sum over in-neighbors of (r div out_deg)

    Integer headroom: ranks stay O(scale·n/|dangling-free|); with
    scale=1e6 the 64-bit budget holds past 10^9 vertices.
    """
    # Loop-invariant pins + co-partitioned layout — same rationale as
    # :func:`pagerank` (edges hash(src), vertices/ranks hash(id); the
    # only per-round exchange is the src→dst contribution aggregation).
    p = int(vertices.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    vertices = vertices.repartition(p, "id").localCheckpoint(eager=False)
    n = vertices.count()
    base = (100 - damping_pct) * scale // 100
    ranks = _pagerank_iterate(
        vertices,
        edges,
        out_agg=F.count("*").alias("out_deg"),
        init_rank=F.lit(scale).cast("long"),
        iters=iters,
        contrib_sql="r.rank div o.out_deg",
        dangling_sql="CAST(coalesce(sum(r2.rank), 0) AS LONG)",
        update_sql=(
            f"CAST({base} + (({damping_pct} * "
            f"(coalesce(c.in_sum, cast(0 as long))"
            f" + (dg.__dangling div {n}))) div 100) AS LONG)"
        ),
    )
    return ranks.select("id", F.col("rank").alias("rank_micros"))


def pagerank_weighted_fixed(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Edge-WEIGHTED fixed-point PageRank: (id, rank_micros), where a
    vertex splits its rank over out-edges proportionally to integer
    edge weight ``w`` (≥1) instead of uniformly — importance flows
    along interaction volume (order counts, traffic, bytes), the
    variant real infrastructure/behavior graphs need.

    Same integer discipline as :func:`pagerank_fixed`: per-edge
    ``(rank * w) div out_w`` floor contributions, dangling mass as a
    1-row broadcast, one shuffle per iteration. Headroom: rank ≤
    n·scale, so rank·w stays in int64 while n·scale·w_max < 2^63."""
    # Loop-invariant pins + co-partitioned layout — same rationale as
    # :func:`pagerank`.
    p = int(vertices.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    vertices = vertices.repartition(p, "id").localCheckpoint(eager=False)
    n = vertices.count()
    base = (100 - damping_pct) * scale // 100
    ranks = _pagerank_iterate(
        vertices,
        edges,
        out_agg=F.sum("w").cast("long").alias("out_w"),
        init_rank=F.lit(scale).cast("long"),
        iters=iters,
        contrib_sql="(r.rank * e.w) div o.out_w",
        dangling_sql="CAST(coalesce(sum(r2.rank), 0) AS LONG)",
        update_sql=(
            f"CAST({base} + (({damping_pct} * "
            f"(coalesce(c.in_sum, cast(0 as long))"
            f" + (dg.__dangling div {n}))) div 100) AS LONG)"
        ),
    )
    return ranks.select("id", F.col("rank").alias("rank_micros"))


def transitive_closure(
    edges: DataFrame, *, max_depth: int = 32, max_pairs: int | None = None
) -> DataFrame:
    """All (src, dst, dist) reachability pairs with minimum hop count,
    by iterative DOUBLING: after round r every path of length ≤ 2^r is
    known, so a depth-D hierarchy closes in ⌈log2 D⌉ self-joins — the
    ancestor/descendant expansion for folder and resource-pool trees
    (SURVEY §2.10), where naive one-hop iteration pays D shuffles.

    Each round self-joins the closure with itself (join on the
    midpoint), unions, and keeps the MIN distance per pair —
    duplicate-path explosion is pruned every round, which is what keeps
    doubling viable on DAGs. Cycles would fixpoint (dist stops
    shrinking) but cost O(n·cycle) pairs; intended for hierarchies.
    Raises if ``max_depth`` rounds don't close (no silent partials).

    ``max_pairs`` is the dense-graph circuit breaker (round-2 ADVICE):
    the closure of a dense/cyclic graph is O(n·reach) pairs, and on a
    graph that isn't hierarchy-shaped that explodes long before the
    doubling budget trips. Each round already materializes + counts
    the closure, so the guard is free; when the running pair count
    exceeds it, raise predictably instead of melting the cluster.
    See DEPLOY.md "Sizing the graph algorithms"."""
    closure = edges.select("src", "dst", F.lit(1).alias("dist")).distinct()
    closure = closure.localCheckpoint(eager=True)
    prev_cnt = closure.count()
    spark = edges.sparkSession
    rounds = max(1, math.ceil(math.log2(max_depth)) if max_depth > 1 else 1)
    for _ in range(rounds):
        # One templated SQL statement per round (same driver-cost cut
        # as the CC/PageRank rounds, r13) and the previous pair count
        # carried in a variable instead of re-counting the (already
        # materialized) previous checkpoint — one job per round.
        new = spark.sql(
            """
            SELECT src, dst, min(dist) AS dist FROM (
              SELECT src, dst, dist FROM {closure}
              UNION ALL
              SELECT a.src AS src, b.dst AS dst, a.dist + b.dist AS dist
              FROM {closure} a JOIN {closure} b ON a.dst = b.src
            ) GROUP BY src, dst
            """,
            closure=closure,
        ).localCheckpoint(eager=True)
        n_new = new.count()
        if max_pairs is not None and n_new > max_pairs:
            raise RuntimeError(
                f"transitive_closure pair count {n_new} exceeds "
                f"max_pairs={max_pairs}: the graph is denser than a "
                "hierarchy — use connected_components / pagerank-style "
                "iteration instead, or raise the budget deliberately"
            )
        if n_new == prev_cnt:
            return new
        closure, prev_cnt = new, n_new
    # one more doubling must add nothing, else the depth bound was wrong
    a, b = closure.alias("a"), closure.alias("b")
    extra = (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        .join(closure.select("src", "dst"), ["src", "dst"], "left_anti")
    )
    if extra.limit(1).count() > 0:
        raise RuntimeError(
            f"transitive_closure did not converge within max_depth={max_depth}"
        )
    return closure


def personalized_pagerank_fixed(
    vertices: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    *,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Personalized PageRank (fixed-point): (id, rank_micros) where the
    teleport/restart vector is the ``seeds`` set — proximity to the
    seeds, not global centrality. The neighborhood-expansion primitive
    (seed-biased recommendations, related-entity discovery, local
    community scoring).

    Same integer discipline as :func:`pagerank_fixed` — scaled 64-bit
    floor arithmetic, one shuffle per iteration, dangling mass as a
    1-row broadcast — with the restart differences: initial mass and
    the (1-d) base land ONLY on seeds, and dangling mass teleports back
    to the seeds (split evenly), never uniformly. Bit-identical across
    engines/partitionings, so an unrolled-CTE oracle can replay it.
    """
    s_n = seeds.count()
    if s_n == 0:
        raise ValueError("personalized_pagerank_fixed needs a non-empty seed set")
    base = (100 - damping_pct) * scale // 100
    seed_flags = seeds.select("id").distinct().withColumn("__seed", F.lit(True))
    # Loop-invariant pins + co-partitioned layout — same rationale as
    # :func:`pagerank`. The v pin is materialized by the eager
    # ranks-init checkpoint below; the broadcast join preserves the
    # repartitioned vertex layout.
    p = int(vertices.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    v = (
        vertices.repartition(p, "id")
        .join(F.broadcast(seed_flags), "id", "left")
        .localCheckpoint(eager=False)
    )
    ranks = _pagerank_iterate(
        v,
        edges,
        out_agg=F.count("*").alias("out_deg"),
        init_rank=F.when(F.col("__seed"), F.lit(scale)).otherwise(F.lit(0)).cast("long"),
        iters=iters,
        contrib_sql="r.rank div o.out_deg",
        dangling_sql="CAST(coalesce(sum(r2.rank), 0) AS LONG)",
        update_sql=(
            f"CAST((CASE WHEN v.__seed THEN {base} ELSE 0 END) + "
            f"(({damping_pct} * (coalesce(c.in_sum, cast(0 as long))"
            f" + (case when v.__seed then dg.__dangling div {s_n}"
            f" else cast(0 as long) end))) div 100) AS LONG)"
        ),
    )
    return ranks.select("id", F.col("rank").alias("rank_micros"))


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every neighbor v > u re-parents to
    min(N(u) ∪ {u}). Pure join+groupBy — no per-node neighbor lists
    materialize, so hub nodes never blow a task."""
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("__mn"))
    m = m.select("u", F.least(F.col("__mn"), F.col("u")).alias("__m"))
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small; all small neighbors
    (and the center) re-parent to the minimum neighbor."""
    o = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    m = o.groupBy("u").agg(F.min("v").alias("__m"))
    re_pointed = (
        o.join(m, "u")
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    centers = m.select(F.col("u"), F.col("__m").alias("v"))
    return re_pointed.unionAll(centers).distinct()


def _unionfind_labels(pairs: list[tuple]) -> dict:
    """Min-id component labels for a small collected edge list —
    path-compressed union-find, used by the star-CC local finish."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {x: find(x) for x in parent} | {
        u: find(u) for uv in pairs for u in uv
    }


def _same_rows(a: DataFrame, b: DataFrame) -> bool:
    """Exact fixpoint probe: True iff ``a`` and ``b`` hold the same
    multiset of rows. One job — the two-sided ``exceptAll``, each side
    cut at its first row. Loops call it only in rounds that a cheap
    count (or count+sum) gate already says may be the fixpoint."""
    diff = a.exceptAll(b).limit(1).unionAll(b.exceptAll(a).limit(1)).limit(1)
    return diff.count() == 0


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_iters: int = 25,
    local_finish_edges: int = 100_000,
) -> DataFrame:
    """Connected components of the undirected graph by large-star/
    small-star contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14).

    Returns (id, component) with component = the minimum vertex id of
    the component. Deterministic: labels are ids, min is total.
    Contract: ``vertices`` must cover every edge endpoint; output rows
    are anchored on the vertex table. Alternates the two star
    contractions until the edge set reaches its fixpoint — O(log n)
    rounds regardless of graph diameter — and raises if ``max_iters``
    rounds do not reach it (a silent partial result would be wrong).

    Once the (distinct, contracted) edge set fits ``local_finish_edges``
    — at entry for small or LSH-sparse graphs, or after a round or two
    of contraction otherwise — the remainder finishes as a driver-side
    union-find instead of paying ~4 jobs per further round: each star
    round costs checkpoint+count actions that dominate wall-clock when
    the frontier is small relative to the cluster, and the bound keeps
    the collect at ≤ ``local_finish_edges`` pairs (~MBs) by
    construction. Labeling is identical (min id per component). Set
    ``local_finish_edges=0`` to force pure dataflow to the fixpoint.
    """
    # LAZY checkpoint folded into the count action: the count
    # materializes the checkpoint blocks as a side effect, so edge prep
    # is ONE job instead of two (eager checkpoint then a count over the
    # cached blocks). A full count touches every partition, so no block
    # is left unmaterialized.
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e_cnt = e.count()
    labels = None
    for _ in range(max_iters):
        if 0 < e_cnt <= local_finish_edges:
            comp = _unionfind_labels([(r.u, r.v) for r in e.collect()])
            id_type = e.schema["u"].dataType
            schema = T.StructType(
                [T.StructField("id", id_type), T.StructField("component", id_type)]
            )
            labels = F.broadcast(
                vertices.sparkSession.createDataFrame(list(comp.items()), schema)
            )
            break
        if e_cnt == 0:
            break  # no edges — every vertex is a singleton
        # Lazy checkpoint + the count as the round's single
        # materializing action (one job per round instead of two).
        new_e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        # Cheap gate first: distinct edge SETS can't be equal if their
        # counts differ, and early contraction rounds always shrink the
        # set — the exact probe only runs in rounds where the count is
        # stable. Same convergence point, ~one scan instead of three for
        # most rounds. Both sides of the probe read already-materialized
        # checkpoint blocks (this round's count and last round's).
        new_cnt = new_e.count()
        same = new_cnt == e_cnt and _same_rows(new_e, e)
        e, e_cnt = new_e, new_cnt
        if same:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "raise max_iters"
        )
    if labels is None:
        # Fixpoint edges form stars (node → component root). Roots and
        # isolated vertices label themselves.
        labels = e.groupBy("u").agg(F.min("v").alias("component")).select(
            F.col("u").alias("id"), "component"
        )
    return (
        vertices.join(labels, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


def strongly_connected_components(
    edges: DataFrame, *, max_depth: int = 512, max_pairs: int | None = None
) -> DataFrame:
    """SCC labels — GraphFrames ``stronglyConnectedComponents`` parity:
    ``(id, scc_id)`` where ``scc_id`` is the minimum vertex mutually
    reachable with ``id`` (singleton components label themselves).

    Built on the doubling transitive closure: mutual reachability is
    closure ⋈ reversed-closure on the pair, so the label is one
    aggregation over that join — no Tarjan-style sequential stack, which
    cannot be expressed as bounded dataflow. Intended for graphs whose
    closure fits the doubling budget (hierarchies with back-edges,
    functional graphs, bounded-diameter machine graphs); pair count is
    O(n·reach) and the cycle fixpoint is what the closure's min-dist
    dedup already bounds. Pass ``max_pairs`` (forwarded to the closure)
    to make dense-graph misuse fail predictably instead of exploding —
    see DEPLOY.md "Sizing the graph algorithms" (round-2 ADVICE)."""
    tc = transitive_closure(edges, max_depth=max_depth, max_pairs=max_pairs).select(
        "src", "dst"
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    mutual = tc.join(
        tc.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
    )
    m = mutual.groupBy(F.col("src").alias("id")).agg(F.min("dst").alias("mu"))
    return nodes.join(m, "id", "left").select(
        "id", F.least(F.col("id"), F.coalesce("mu", F.col("id"))).alias("scc_id")
    )


def modularity(edges: DataFrame, membership: DataFrame) -> DataFrame:
    """Newman modularity Q of a node partition over an undirected
    simple graph: Q = intra/m − Σ_c (d_c / 2m)².

    ``edges``: distinct undirected pairs ``(src, dst)``, src != dst
    (each edge once — orientation irrelevant). ``membership``:
    ``(id, community)``, one row per node.

    Everything up to the last step is exact integer aggregation
    (m, intra-community edge count, Σ d_c²); the final expression is
    two IEEE-double divisions and one subtraction — each correctly
    rounded, so the result hash-matches the SQL oracle bit-for-bit.
    Returns one row: (m, intra_edges, modularity) rounded to 9 dp.

    Scale: two equi-joins on node id + one endpoint-explode count —
    no all-pairs, no windows; membership is a normal shuffled join
    (it is corpus-sized, not broadcastable).
    """
    mem = membership.select(F.col(membership.columns[0]).alias("id"),
                            F.col(membership.columns[1]).alias("com"))
    lab = (
        edges.select("src", "dst")
        .join(mem.withColumnRenamed("id", "src").withColumnRenamed("com", "cs"), "src")
        .join(mem.withColumnRenamed("id", "dst").withColumnRenamed("com", "cd"), "dst")
    )
    tot = lab.agg(
        F.count("*").alias("m"),
        F.sum(F.when(F.col("cs") == F.col("cd"), 1).otherwise(0)).alias("intra_edges"),
    )
    ends = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    deg = ends.groupBy("id").agg(F.count("*").alias("d")).join(mem, "id")
    dsq = (
        deg.groupBy("com").agg(F.sum("d").alias("dcom"))
        .agg(F.sum(F.col("dcom") * F.col("dcom")).alias("sum_dsq"))
    )
    return tot.crossJoin(dsq).select(
        "m",
        "intra_edges",
        F.round(
            F.col("intra_edges").cast("double") / F.col("m")
            - F.col("sum_dsq").cast("double") / (F.lit(4) * F.col("m") * F.col("m")).cast("double"),
            9,
        ).alias("modularity"),
    )


def conductance(edges: DataFrame, membership: DataFrame) -> DataFrame:
    """Per-community conductance φ(c) = cut(c) / min(vol(c), 2m−vol(c))
    over an undirected simple graph — the boundary-quality companion to
    ``modularity`` (same inputs: distinct ``(src, dst)`` pairs and an
    ``(id, community)`` map). vol(c) = 2·intra(c) + cut(c); everything
    is exact integer aggregation until the one final IEEE division.
    Returns (community, vol, cut, conductance) — conductance NULL for a
    community that is the whole graph (min volume 0).

    Scale: the same two id-joins as modularity plus one union-explode
    count; no windows, no all-pairs.
    """
    mem = membership.select(F.col(membership.columns[0]).alias("id"),
                            F.col(membership.columns[1]).alias("com"))
    lab = (
        edges.select("src", "dst")
        .join(mem.withColumnRenamed("id", "src").withColumnRenamed("com", "cs"), "src")
        .join(mem.withColumnRenamed("id", "dst").withColumnRenamed("com", "cd"), "dst")
    )
    intra = (
        lab.filter(F.col("cs") == F.col("cd"))
        .groupBy(F.col("cs").alias("com"))
        .agg(F.count("*").alias("intra"))
    )
    inter = lab.filter(F.col("cs") != F.col("cd"))
    cut = (
        inter.select(F.col("cs").alias("com"))
        .unionByName(inter.select(F.col("cd").alias("com")))
        .groupBy("com")
        .agg(F.count("*").alias("cut"))
    )
    m = lab.agg(F.count("*").alias("m"))
    per = (
        intra.join(cut, "com", "full_outer")
        .select(
            "com",
            F.coalesce(F.col("intra"), F.lit(0)).alias("intra"),
            F.coalesce(F.col("cut"), F.lit(0)).alias("cut"),
        )
        .crossJoin(F.broadcast(m))
        .withColumn("vol", (F.lit(2) * F.col("intra") + F.col("cut")).cast("bigint"))
    )
    denom = F.least(F.col("vol"), F.lit(2) * F.col("m") - F.col("vol"))
    return per.select(
        F.col("com").alias("community"),
        "vol",
        F.col("cut").cast("bigint").alias("cut"),
        F.when(
            denom > 0, F.round(F.col("cut").cast("double") / denom.cast("double"), 9)
        ).alias("conductance"),
    )


def weighted_sssp(
    edges: DataFrame, sources: DataFrame, *, max_iters: int = 40
) -> DataFrame:
    """Multi-source weighted shortest paths — Bellman–Ford min-plus
    relaxation rounds (the weighted sibling of ``motif.shortest_paths``'
    hop-count BFS). ``edges`` is (src, dst, w) with INTEGER weights
    (min-plus over bigints stays exact — no float accumulation order to
    worry about); ``sources`` is (id, landmark), so per-landmark
    distance maps come out of one run, GraphFrames-``shortestPaths``
    style. Returns (id, landmark, dist) for REACHABLE pairs only.

    Each round is one equi-join + one min-aggregate, both hashed on the
    vertex id — O(longest-shortest-path) rounds (use it on
    bounded-diameter graphs; raise ``max_iters`` for long chains).
    Convergence is checked exactly (``_same_rows``, as in
    connected_components), and
    non-convergence raises instead of returning wrong distances —
    negative-weight cycles can never converge and are therefore
    surfaced, not silently looped over."""
    # Pin the edge table once: it sits in every relaxation round's plan
    # and the caller's edge lineage (unions, weight derivations) would
    # otherwise re-run up to max_iters times. Lazy — round 1's action
    # materializes it; a single consumer stage per round, so no
    # concurrent-materialization race.
    #
    # CO-PARTITIONED layout (guide §2.4, the pagerank shape): edges
    # hash(src), dist hash(id) — the relaxation probe is
    # then exchange-free every round, the relaxed candidates take ONE
    # repartition to hash(id) (which satisfies the (id, landmark)
    # aggregation clustering, so the min-agg runs partition-local
    # behind it), and the merge with the previous state is a
    # co-partitioned full-outer join (identical rows to the former
    # union+groupBy-min). The stats probe is the round's single
    # materializing action (count+sum scans every partition of the
    # lazy checkpoint).
    p = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e = (
        edges.select("src", "dst", F.col("w").cast("bigint").alias("w"))
        .repartition(p, "src")
        .localCheckpoint(eager=False)
    )
    dist = (
        sources.select("id", "landmark", F.lit(0).cast("bigint").alias("dist"))
        .repartition(p, "id")
        .localCheckpoint(eager=False)
    )
    stats = dist.agg(F.count("*"), F.sum("dist")).first()
    spark = edges.sparkSession
    for _ in range(max_iters):
        # One templated SQL statement per round (same driver-cost cut
        # as the CC/PageRank rounds, r13): identical plan — the
        # REPARTITION hint reproduces the hash(id) layout behind which
        # the (id, landmark) min-agg runs partition-local.
        new = spark.sql(
            f"""
            SELECT id, landmark,
                   least(coalesce(o.dist, r.dist),
                         coalesce(r.dist, o.dist)) AS dist
            FROM {{dist}} o FULL OUTER JOIN (
              SELECT id, landmark, min(dist) AS dist FROM (
                SELECT /*+ REPARTITION({p}, id) */
                       e.dst AS id, d.landmark, d.dist + e.w AS dist
                FROM {{dist}} d JOIN {{edges}} e ON d.id = e.src
              ) GROUP BY id, landmark
            ) r USING (id, landmark)
            """,
            dist=dist,
            edges=e,
        ).localCheckpoint(eager=False)
        # Cheap gate first (round-4 ADVICE: the two exceptAll probes
        # cost ~two extra scans every round): the reachable pair set
        # only GROWS and each pair's dist only DECREASES under min-plus
        # relaxation, so the state can't be a fixpoint unless both the
        # pair count and the total distance are unchanged — one
        # aggregate per round. The exact _same_rows probe runs
        # only in (count, sum)-stable rounds, which outside pathological
        # sum collisions is the convergence round itself.
        new_stats = new.agg(F.count("*"), F.sum("dist")).first()
        same = tuple(new_stats) == tuple(stats) and _same_rows(new, dist)
        dist, stats = new, new_stats
        if same:
            return dist
    raise RuntimeError(f"weighted_sssp did not converge in {max_iters} rounds")
