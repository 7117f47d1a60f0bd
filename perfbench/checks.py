"""Output checks over published snapshots, computed with DuckDB and
plain Python: nothing here runs through Spark or the engine's code
paths. Only ``LABEL_KEYS`` — the natural-key declaration being
checked — is taken from the engine.

A snapshot directory holds ``vertices/<Label>/*.parquet`` and
``edges/rel_type=<T>/*.parquet``. Each check returns a list of problem
strings; an empty list means the snapshot passed.
"""

from __future__ import annotations

import glob
import os
from collections import deque

import duckdb

US = "\x1f"


def _label_files(snap: str) -> dict[str, str]:
    out = {}
    for d in sorted(glob.glob(os.path.join(snap, "vertices", "*"))):
        if glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
            out[os.path.basename(d)] = os.path.join(d, "**", "*.parquet")
    return out


def _key_sql(cols) -> str:
    return " || chr(31) || ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)


def connect(snap: str) -> tuple[duckdb.DuckDBPyConnection, list[str]]:
    """A DuckDB connection with one view per label (``label``, ``key``)
    unioned as ``nodes`` and the edge table as ``edges``."""
    from vmware_graph_spark.store.graph import LABEL_KEYS

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    problems: list[str] = []
    parts = []
    for label, files in _label_files(snap).items():
        keys = LABEL_KEYS.get(label)
        if keys is None:
            problems.append(f"unknown label {label}")
            continue
        rel = f"read_parquet('{files}', hive_partitioning=true, union_by_name=true)"
        cols = {r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()}
        missing = [k for k in keys if k not in cols]
        if missing:
            problems.append(f"{label}: key columns {missing} missing")
            continue
        parts.append(f"SELECT '{label}' AS label, {_key_sql(keys)} AS key FROM {rel}")
    if parts:
        con.execute("CREATE VIEW nodes AS " + " UNION ALL ".join(parts))
    else:
        con.execute("CREATE VIEW nodes AS SELECT ''::VARCHAR AS label, ''::VARCHAR AS key WHERE false")
    edge_files = os.path.join(snap, "edges", "**", "*.parquet")
    if glob.glob(edge_files, recursive=True):
        con.execute(
            "CREATE VIEW edges AS SELECT src_label, src_key, rel_type, dst_label, dst_key "
            f"FROM read_parquet('{edge_files}', hive_partitioning=true)"
        )
    else:
        con.execute(
            "CREATE VIEW edges AS SELECT ''::VARCHAR src_label, ''::VARCHAR src_key, "
            "''::VARCHAR rel_type, ''::VARCHAR dst_label, ''::VARCHAR dst_key WHERE false"
        )
    return con, problems


def check_snapshot(snap: str) -> tuple[list[str], dict[str, int]]:
    """Natural-key uniqueness per label and no dangling edge endpoint.
    Returns (problems, counts) with counts keyed like
    ``GraphStore.counts()``: ``v:<Label>`` and ``edges``."""
    con, problems = connect(snap)
    for label, n in con.execute(
        "SELECT label, count(*) FROM (SELECT label, key FROM nodes WHERE key IS NOT NULL "
        "GROUP BY ALL HAVING count(*) > 1) GROUP BY label ORDER BY label"
    ).fetchall():
        problems.append(f"{label}: {n} duplicate natural keys")
    for side in ("src", "dst"):
        n = con.execute(
            f"SELECT count(*) FROM edges e ANTI JOIN nodes v "
            f"ON e.{side}_label = v.label AND e.{side}_key = v.key"
        ).fetchone()[0]
        if n:
            problems.append(f"{n} edges with a dangling {side} endpoint")
    counts = {f"v:{label}": n for label, n in con.execute(
        "SELECT label, count(*) FROM nodes GROUP BY label"
    ).fetchall()}
    counts["edges"] = con.execute("SELECT count(*) FROM edges").fetchone()[0]
    return problems, counts


def check_refresh(
    snap: str, prev_snap: str, removed: dict[str, set[str]], tenants: list[str], orphans: int
) -> list[str]:
    """The sweep: no removed host/VM key is still published, and the
    engine's orphan count equals the tenant-marked keys of the previous
    snapshot that the new one no longer holds."""
    from vmware_graph_spark.store.graph import LABEL_KEYS

    problems = []
    con, p = connect(snap)
    problems += p
    for label, keys in removed.items():
        if not keys:
            continue
        con.execute("CREATE OR REPLACE TEMP TABLE gone(key VARCHAR)")
        con.executemany("INSERT INTO gone VALUES (?)", [(k,) for k in sorted(keys)])
        n = con.execute(
            f"SELECT count(*) FROM nodes v JOIN gone g ON v.key = g.key WHERE v.label = '{label}'"
        ).fetchone()[0]
        if n:
            problems.append(f"{label}: {n} removed keys still published")
    con.execute("CREATE OR REPLACE TEMP TABLE tenants(uid VARCHAR)")
    con.executemany("INSERT INTO tenants VALUES (?)", [(t,) for t in tenants])
    marked = []
    for label, files in _label_files(prev_snap).items():
        rel = f"read_parquet('{files}', hive_partitioning=true, union_by_name=true)"
        cols = {r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()}
        if "managedby" in cols and label in LABEL_KEYS:
            marked.append(
                f"SELECT '{label}' AS label, {_key_sql(LABEL_KEYS[label])} AS key FROM {rel} "
                "WHERE managedby IN (SELECT uid FROM tenants)"
            )
    expected = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT label, key FROM ("
        + " UNION ALL ".join(marked)
        + ")) m ANTI JOIN nodes v ON m.label = v.label AND m.key = v.key"
    ).fetchone()[0] if marked else 0
    if expected != orphans:
        problems.append(f"orphans: engine {orphans}, snapshot difference {expected}")
    return problems


# -- analytics ---------------------------------------------------------------


def graph_edges(snap: str) -> tuple[list[str], list[tuple[str, str]]]:
    """(vertex ids, directed (src, dst) ids) as ``analytics_views``
    defines them: id = label + U+001F + key."""
    con, _ = connect(snap)
    ids = [r[0] for r in con.execute("SELECT label || chr(31) || key FROM nodes").fetchall()]
    es = con.execute(
        "SELECT src_label || chr(31) || src_key, dst_label || chr(31) || dst_key FROM edges"
    ).fetchall()
    return ids, es


def expected_degrees(es) -> dict[str, int]:
    out: dict[str, int] = {}
    for s, d in es:
        out[s] = out.get(s, 0) + 1
        out[d] = out.get(d, 0) + 1
    return out


def expected_components(ids, es) -> dict[str, str]:
    """Undirected components, labelled by their smallest vertex id."""
    parent = {v: v for v in ids}
    for s, d in es:
        parent.setdefault(s, s)
        parent.setdefault(d, d)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in es:
        a, b = find(s), find(d)
        if a != b:
            if a < b:
                parent[b] = a
            else:
                parent[a] = b
    return {v: find(v) for v in parent}


def expected_bfs(es, sources, max_hops: int = 10) -> dict[str, int]:
    adj: dict[str, list[str]] = {}
    for s, d in set(es):
        adj.setdefault(s, []).append(d)
    dist = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        v = q.popleft()
        if dist[v] >= max_hops:
            continue
        for w in adj.get(v, ()):
            if w not in dist:
                dist[w] = dist[v] + 1
                q.append(w)
    return dist


def read_pairs(path: str, cols: str) -> list[tuple]:
    return duckdb.sql(f"SELECT {cols} FROM read_parquet('{path}/*.parquet')").fetchall()


def expected_pagerank(ids, es, iters: int = 5, damping_pct: int = 85, scale: int = 1_000_000):
    """:func:`analytics.algos.pagerank_fixed`'s integer update rule,
    recomputed in Python: r' = base + d*(in_sum + dangling div n) div 100."""
    n = len(ids)
    base = (100 - damping_pct) * scale // 100
    out_deg: dict[str, int] = {}
    for s, _ in es:
        out_deg[s] = out_deg.get(s, 0) + 1
    ranks = {v: scale for v in ids}
    for _ in range(iters):
        in_sum: dict[str, int] = {}
        for s, d in es:
            if s in ranks:
                in_sum[d] = in_sum.get(d, 0) + ranks[s] // out_deg[s]
        dangling = sum(r for v, r in ranks.items() if v not in out_deg)
        ranks = {
            v: base + (damping_pct * (in_sum.get(v, 0) + dangling // n)) // 100 for v in ids
        }
    return ranks
