"""CLI: run a refresh, a registry query, or a plan explain.

    python -m vmware_graph_spark refresh WORKBOOK_DIR SNAPSHOT_DIR
    python -m vmware_graph_spark refresh export.xlsx SNAPSHOT_DIR
    python -m vmware_graph_spark query QUERY_NAME [SF_DIR] [--limit N]
    python -m vmware_graph_spark explain QUERY_NAME [SF_DIR]
    python -m vmware_graph_spark list [SUBSTRING]

``refresh``: WORKBOOK_DIR is one export as per-sheet parquet/CSV files,
or a single genuine RVTools ``.xlsx`` workbook (read via the
dependency-free OOXML parser in ``sources/workbook.py``); SNAPSHOT_DIR
holds the graph snapshot. If a snapshot already exists there it is the
*previous* graph: the run executes the reference's mark-and-sweep
against it (refresh-vmware.cypher:26-31,527-530) and reports swept
orphans; otherwise it is a first full build. Prints one JSON line of
progress counts (the S5 progress-sink analog of the reference's
row-count returns).

``query`` runs any registry query by name against an SF_DIR (default
/root/testdata/sf0.01) and prints the result table. ``explain`` prints
its formatted physical plan instead of executing it. ``list`` prints
registry names, optionally filtered by substring.
"""

from __future__ import annotations

import json
import sys


def _refresh(workbook_dir: str, snapshot_dir: str) -> int:
    import os

    from vmware_graph_spark.ingest.refresh import refresh
    from vmware_graph_spark.session import get_spark
    from vmware_graph_spark.sources.workbook import (
        read_workbook_dir,
        read_workbook_xlsx,
    )
    from vmware_graph_spark.store.graph import GraphStore

    spark = get_spark("vmware-graph-refresh")

    if os.path.isfile(workbook_dir) and workbook_dir.lower().endswith(".xlsx"):
        sheets = read_workbook_xlsx(spark, workbook_dir)
    else:
        sheets = read_workbook_dir(spark, workbook_dir)
    prev = GraphStore.read(spark, snapshot_dir)
    res = refresh(spark, sheets, prev=prev if prev.labels() else None)
    # Count orphans BEFORE publish: their lineage reads the previous
    # snapshot, which publish() replaces.
    orphans_swept = res.orphans.count()
    res.store.publish(snapshot_dir)

    out = {"orphans_swept": orphans_swept}
    out.update(GraphStore.read(spark, snapshot_dir).counts())
    print(json.dumps(out))
    return 0


def _resolve(name: str):
    from vmware_graph_spark.queries import QUERIES

    fn = QUERIES.get(name)
    if fn is None:
        close = [n for n in QUERIES if name in n]
        hint = f" (did you mean: {', '.join(close[:5])}?)" if close else ""
        print(f"unknown query {name!r}{hint}", file=sys.stderr)
        return None
    return fn


def _query(name: str, sf_dir: str, limit: int) -> int:
    from vmware_graph_spark.session import get_spark

    fn = _resolve(name)
    if fn is None:
        return 2
    spark = get_spark("vmware-graph-query")
    fn(spark, sf_dir).show(limit, truncate=False)
    return 0


def _explain(name: str, sf_dir: str) -> int:
    from vmware_graph_spark.session import get_spark

    fn = _resolve(name)
    if fn is None:
        return 2
    spark = get_spark("vmware-graph-explain")
    fn(spark, sf_dir).explain("formatted")
    return 0


def _list(substring: str) -> int:
    from vmware_graph_spark.queries import ORACLE, QUERIES

    for n in QUERIES:
        if substring in n:
            tag = "" if n in ORACLE else "  [rows-only]"
            print(f"{n}{tag}")
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "refresh" and len(argv) == 3:
        return _refresh(argv[1], argv[2])
    if argv and argv[0] in ("query", "explain") and len(argv) >= 2:
        name = argv[1]
        rest = argv[2:]
        limit = 20
        if "--limit" in rest:
            i = rest.index("--limit")
            try:
                limit = int(rest[i + 1])
            except (IndexError, ValueError):
                print(__doc__, file=sys.stderr)
                return 2
            rest = rest[:i] + rest[i + 2 :]
        if len(rest) > 1:
            print(__doc__, file=sys.stderr)
            return 2
        sf_dir = rest[0] if rest else "/root/testdata/sf0.01"
        return _query(name, sf_dir, limit) if argv[0] == "query" else _explain(name, sf_dir)
    if argv and argv[0] == "list" and len(argv) <= 2:
        return _list(argv[1] if len(argv) == 2 else "")
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
