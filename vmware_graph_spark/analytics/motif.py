"""Motif and traversal queries over the (vertices, edges) tables.

The Cypher-pattern analogs (SURVEY §2.11 graph algorithms): fixed-shape
motifs compile to join chains (Catalyst reorders/broadcasts them);
variable-length reachability is an iterative frontier expansion — one
shuffle per hop, lineage cut per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def two_hop_motif(
    edges: DataFrame,
    rel_ab: str,
    rel_bc: str,
) -> DataFrame:
    """Motif ``(a)-[rel_ab]->(b)-[rel_bc]->(c)`` → (a, b, c).

    A join chain on the edge table; with the edge table partitioned by
    rel_type on disk, each side prunes to one partition before the join.
    """
    ab = edges.filter(F.col("rel_type") == rel_ab).select(
        F.col("src_key").alias("a"), F.col("dst_key").alias("b")
    )
    bc = edges.filter(F.col("rel_type") == rel_bc).select(
        F.col("src_key").alias("b"), F.col("dst_key").alias("c")
    )
    return ab.join(bc, "b").select("a", "b", "c")


def _hop_frontier(
    vertices: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    *,
    max_hops: int,
    directed: bool,
) -> DataFrame:
    """The frontier loop behind ``shortest_paths`` and ``bfs_distances``.

    ``seeds`` holds the distinct hop-0 keys: ``id`` first, then any
    source columns carried along each path (``landmark``). Returns the
    visited set — the key columns plus ``dist``, the fewest hops from
    the seed — restricted to ``vertices``. Each hop is one SQL
    statement: expand the frontier, anti-join the visited set on the
    full key, one shuffle keyed on vertex id.
    """
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct().localCheckpoint(eager=True)

    keys = ", ".join(seeds.columns)
    carried = "".join(f", f.{c}" for c in seeds.columns[1:])
    visited = seeds.withColumn("dist", F.lit(0)).localCheckpoint(eager=True)
    frontier = visited
    spark = vertices.sparkSession
    for hop in range(1, max_hops + 1):
        # One templated SQL per hop, and ONE materialization per hop:
        # nxt stays lazy inside the union's eager checkpoint, and the
        # next frontier is a filter over the new checkpoint's blocks,
        # so nothing recomputes.
        nxt = spark.sql(
            f"""
            SELECT {keys}, {hop} AS dist FROM (
              SELECT DISTINCT e.dst AS id{carried}
              FROM {{e}} e JOIN {{frontier}} f ON e.src = f.id
            ) n LEFT ANTI JOIN {{visited}} v USING ({keys})
            """,
            e=e,
            frontier=frontier,
            visited=visited,
        )
        # Union first, then isEmpty: the last hop (empty nxt) writes the
        # visited set once more, but probing nxt before the union would
        # cost an extra job on every hop to save that one write.
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = visited.filter(F.col("dist") == hop)
        if frontier.isEmpty():
            break
    return visited.join(vertices.select("id"), "id", "left_semi")


def shortest_paths(
    vertices: DataFrame,
    edges: DataFrame,
    landmarks: DataFrame,
    *,
    max_hops: int = 10,
    directed: bool = True,
) -> DataFrame:
    """GraphFrames ``shortestPaths(landmarks)`` analog (SURVEY §2.11):
    fewest-hop distance from each landmark to every vertex it reaches,
    following edge direction (pass reversed edges — or
    ``directed=False`` — for GraphFrames' vertex→landmark direction).

    Output is relational — ``(id, landmark, dist)`` rows — instead of
    GraphFrames' per-vertex map column: at 100 TB a map of |L| entries
    per vertex forces a wide row and defeats column pruning, while rows
    shuffle-partition evenly and unreachable pairs cost nothing. State
    is the per-(vertex, landmark) visited set; each hop is one shuffle
    keyed on vertex id, lineage cut per hop (the ``bfs_distances`` loop
    keyed on (id, landmark)).
    """
    seeds = landmarks.select("id").distinct().select("id", F.col("id").alias("landmark"))
    return _hop_frontier(vertices, edges, seeds, max_hops=max_hops, directed=directed)


def bfs_distances(
    vertices: DataFrame,
    edges: DataFrame,
    sources: DataFrame,
    *,
    max_hops: int = 10,
    directed: bool = True,
) -> DataFrame:
    """Multi-source BFS: (id, dist) = fewest hops from any source.

    Frontier expansion with an anti-join against the visited set; each
    hop is one shuffle on vertex id, lineage cut per hop. Unreached
    vertices are omitted (Cypher path-match semantics, not ∞ rows).
    """
    seeds = sources.select("id").distinct()
    return _hop_frontier(vertices, edges, seeds, max_hops=max_hops, directed=directed)


# ---------------------------------------------------------------------------
# Motif pattern finder (GraphFrames find() dialect + type constraints)
# ---------------------------------------------------------------------------

import re as _re

_TERM_RE = _re.compile(
    r"^\s*(?P<neg>!)?\s*\((?P<src>\w*)(?::(?P<srclabel>\w+))?\)\s*"
    r"-\s*\[(?P<evar>\w*)(?::(?P<etype>\w+))?"
    r"(?:\*(?P<minlen>\d+)\.\.(?P<maxlen>\d+))?\]\s*"
    r"(?P<arrow>->|-)\s*\((?P<dst>\w*)(?::(?P<dstlabel>\w+))?\)\s*$"
)

def _parse_motif(pattern: str):
    """Parse ``(a)-[e:TYPE]->(b); !(a)-[:T]->()`` into term dicts.

    Dialect: GraphFrames ``find()`` terms, extended with ``:TYPE`` edge
    constraints (the Cypher ``[:REL]`` analog) and undirected terms
    ``(a)-[e]-(b)`` (Cypher's either-direction match, SURVEY §2.3 J3).
    ``!``-prefixed terms are negations (no such edge may exist).
    Anonymous vertices ``()`` / edges ``[]`` bind nothing.
    """
    terms = []
    for raw in pattern.split(";"):
        if not raw.strip():
            continue
        m = _TERM_RE.match(raw)
        if not m:
            raise ValueError(f"unparseable motif term: {raw!r}")
        d = m.groupdict()
        if d["minlen"] is not None:
            lo, hi = int(d["minlen"]), int(d["maxlen"])
            if not 1 <= lo <= hi <= 10:
                raise ValueError(f"variable-length bounds out of range: {raw!r}")
            if d["srclabel"] or d["dstlabel"]:
                raise ValueError(
                    f"vertex labels on variable-length terms are not supported: {raw!r}"
                )
        else:
            lo = hi = None
        terms.append(
            {
                "neg": bool(d["neg"]),
                "src": d["src"],
                "dst": d["dst"],
                "srclabel": d["srclabel"],
                "dstlabel": d["dstlabel"],
                "evar": d["evar"],
                "etype": d["etype"],
                "directed": d["arrow"] == "->",
                "minlen": lo,
                "maxlen": hi,
            }
        )
    if not terms:
        raise ValueError("empty motif pattern")
    return terms


def motif_find(
    edges: DataFrame,
    pattern: str,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    type_col: str = "rel_type",
    src_label_col: str = "src_label",
    dst_label_col: str = "dst_label",
) -> DataFrame:
    """Find all bindings of a motif pattern over the edge table — the
    engine's analog of Cypher ``MATCH`` join patterns
    (refresh-vmware.cypher:101-103,143,250 are 2-hop/any-direction/
    existence matches of exactly this shape) and of GraphFrames
    ``find()``.

    Returns one column per named vertex variable (bound to vertex keys)
    and one per named edge variable (bound to the matched rel_type).
    Positive terms compile to an equi-join chain on shared variables —
    Catalyst reorders/broadcasts; undirected terms union both edge
    directions first (the canonical-edge store keeps one row per
    undirected pair, so the union is loss-free). Negated terms compile
    to LEFT ANTI joins on their shared variables (the relational
    complement — never a cartesian). Vertex-label constraints
    (``(h:Vspherehost)``, the Cypher node-label test) filter on the
    edge table's endpoint-label columns — per orientation, so an
    undirected labeled term matches whichever way the edge is stored.
    At 100 TB each term prunes to its rel_type partition before joining.
    """
    terms = _parse_motif(pattern)
    evars = [t["evar"] for t in terms if t["evar"]]
    dup_evars = sorted({v for v in evars if evars.count(v) > 1})
    if dup_evars:
        # Spark would fail later with AMBIGUOUS_REFERENCE; fail at parse
        # time with an actionable message instead (round-2 ADVICE).
        raise ValueError(
            f"edge variable(s) reused across terms: {dup_evars}; bind each "
            "edge variable in exactly one term"
        )
    anon = [0]

    def fresh():
        anon[0] += 1
        return f"__anon{anon[0]}"

    def term_df(t):
        e = edges
        if t["etype"]:
            e = e.filter(F.col(type_col) == t["etype"])
        s = t["src"] or fresh()
        d = t["dst"] or fresh()
        # self-loop term ``(x)-[:R]->(x)``: aliasing both endpoints to
        # one column name is AMBIGUOUS_REFERENCE in Spark; bind dst to a
        # temp, filter src==dst, drop the temp (GraphFrames find()
        # self-loop semantics) — round-2 ADVICE.
        selfloop = s == d
        if selfloop:
            d = "__selfloop_dst"

        def finish(df, varset):
            if not selfloop:
                return df, varset
            df = df.filter(F.col(s) == F.col(d)).drop(d)
            if not t["directed"]:
                # both orientations of a self-loop are the same row
                df = df.distinct()
            return df, varset - {d}
        if t["minlen"] is not None:
            # Variable-length term ``-[:T*lo..hi]->``: bounded Kleene
            # expansion as reachability-distinct pairs (the bulk-analytics
            # semantics of transitive closure, not per-path enumeration —
            # path multiplicity explodes combinatorially at scale and the
            # reference's own MATCH usage never consumes it). A named edge
            # var binds the MINIMUM hop count within the bounds. Each
            # extension is one equi-join + distinct; hi is capped at 10.
            base = e.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
            if not t["directed"]:
                base = base.unionByName(
                    e.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d"))
                )
            base = base.distinct()
            cur, acc = base, None
            for hop in range(1, t["maxlen"] + 1):
                if hop > 1:
                    cur = (
                        cur.alias("p")
                        .join(base.alias("q"), F.col("p.d") == F.col("q.s"))
                        .select(F.col("p.s").alias("s"), F.col("q.d").alias("d"))
                        .distinct()
                    )
                if hop >= t["minlen"]:
                    step = cur.withColumn("hops", F.lit(hop))
                    acc = step if acc is None else acc.unionByName(step)
            pairs = acc.groupBy("s", "d").agg(F.min("hops").alias("hops"))
            cols = [F.col("s").alias(s), F.col("d").alias(d)]
            if t["evar"]:
                cols.append(F.col("hops").alias(t["evar"]))
            return finish(pairs.select(*cols), {s, d})
        if (t["srclabel"] or t["dstlabel"]) and (
            src_label_col not in e.columns or dst_label_col not in e.columns
        ):
            raise ValueError(
                "pattern uses vertex labels but the edge table has no "
                f"{src_label_col!r}/{dst_label_col!r} columns"
            )
        fwd = e
        if t["srclabel"]:
            fwd = fwd.filter(F.col(src_label_col) == t["srclabel"])
        if t["dstlabel"]:
            fwd = fwd.filter(F.col(dst_label_col) == t["dstlabel"])
        cols = [F.col(src_col).alias(s), F.col(dst_col).alias(d)]
        if t["evar"]:
            cols.append(F.col(type_col).alias(t["evar"]))
        out = fwd.select(*cols)
        if not t["directed"]:
            # reversed orientation: the pattern's src sits in dst_col, so
            # the label tests swap columns too
            rev_e = e
            if t["srclabel"]:
                rev_e = rev_e.filter(F.col(dst_label_col) == t["srclabel"])
            if t["dstlabel"]:
                rev_e = rev_e.filter(F.col(src_label_col) == t["dstlabel"])
            rev = [F.col(src_col).alias(d), F.col(dst_col).alias(s)]
            if t["evar"]:
                rev.append(F.col(type_col).alias(t["evar"]))
            out = out.unionByName(rev_e.select(*rev))
        return finish(out, {s, d})

    positives = [t for t in terms if not t["neg"]]
    negatives = [t for t in terms if t["neg"]]
    if not positives:
        raise ValueError("motif needs at least one positive term")

    acc, bound = term_df(positives[0])
    for t in positives[1:]:
        tdf, tvars = term_df(t)
        shared = [v for v in tvars if v in bound and not v.startswith("__anon")]
        acc = acc.join(tdf, on=shared) if shared else acc.crossJoin(tdf)
        bound |= tvars
    for t in negatives:
        tdf, tvars = term_df(t)
        shared = [v for v in tvars if v in bound and not v.startswith("__anon")]
        if not shared:
            raise ValueError("negated term shares no variable with the motif")
        acc = acc.join(tdf.select(*shared).distinct(), on=shared, how="left_anti")
    keep = [c for c in acc.columns if not c.startswith("__anon")]
    return acc.select(*keep)
