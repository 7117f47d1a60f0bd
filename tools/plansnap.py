"""Dump .explain("formatted") for registry queries to plans/<tag>/.

Usage: python tools/plansnap.py <tag> [suffix] [query ...]

Writes plans/<tag>/<query>_<suffix>.txt (suffix defaults to "before").
With no query names, snapshots the bench HEADLINE set. The snapshot is
the round's evidence trail: an optimization claim ("2 Exchange -> 1",
"SortMergeJoin -> BroadcastHashJoin") must be checkable by diffing the
_before/_after files.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    from bench import HEADLINE
    from vmware_graph_spark.queries import QUERIES

    names = sys.argv[3:] or list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(h.REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = h.spark("plansnap")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
