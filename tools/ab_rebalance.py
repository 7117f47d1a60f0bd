"""A/B the scan-rebalance shape for aggregate-first lineitem queries.

Usage: python tools/ab_rebalance.py [-n REPS] query [query ...]

Variant A: REBALANCE_TABLES as committed (lineitem spread on
l_orderkey). Variant B: lineitem removed from REBALANCE_TABLES, so the
single-row-group scan stays one task and Spark's map-side partial
aggregation collapses rows BEFORE the only exchange (guide §2.3:
aggregate before you shuffle). Variants are interleaved A,B,A,B,… in
ONE session so host drift hits both equally; the plan cache is cleared
between variants (it keys on table identity, not the rebalance set).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    reps = 5
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from vmware_graph_spark.operators.pin import release_pins
    from vmware_graph_spark.queries import QUERIES
    from vmware_graph_spark.session import get_spark
    from vmware_graph_spark.sources import tables as T

    # a small driver heap: the JVM grows toward its cap, and at the
    # engine's 12g default one sf0.1 ingest run reached 13.5 GB RSS
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    spark = get_spark("ab-rebalance")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10_000).write.format("noop").mode("overwrite").save()

    import subprocess

    out = subprocess.run(
        ["pgrep", "-f", "org.apache.spark.deploy"], capture_output=True, text=True
    ).stdout.split()
    jpid = int(out[0]) if out else None
    tick = os.sysconf("SC_CLK_TCK")

    def _jvm_cpu() -> float:
        if jpid is None:
            return 0.0
        with open(f"/proc/{jpid}/stat") as f:
            parts = f.read().split()
        return (int(parts[13]) + int(parts[14])) / tick

    full = frozenset(T.REBALANCE_TABLES)
    nolineitem = frozenset(full - {"lineitem"})

    def run_variant(name: str, tag: str, tables: frozenset) -> tuple[float, float]:
        T.REBALANCE_TABLES = tables
        T._PLAN_CACHE.clear()
        spark.sparkContext.setJobDescription(f"ab:{name}:{tag}")
        c0, t0 = _jvm_cpu(), time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        w, c = time.time() - t0, _jvm_cpu() - c0
        release_pins()
        return round(w, 3), round(c, 2)

    # try/finally so a query raising mid-sweep can't leave the module
    # global on the B variant (ADVICE r12)
    try:
        for name in names:
            # one untimed warm rep per variant (JIT for both plan shapes)
            run_variant(name, "warmA", full)
            run_variant(name, "warmB", nolineitem)
            aw, ac, bw, bc = [], [], [], []
            for _ in range(reps):
                w, c = run_variant(name, "A", full)
                aw.append(w); ac.append(c)
                w, c = run_variant(name, "B", nolineitem)
                bw.append(w); bc.append(c)
            def med(v):
                s = sorted(v); return s[len(s) // 2]
            print(f"{name}: A(rebalance) wall={aw} med={med(aw)} cpu={ac} med={med(ac)}")
            print(f"{name}: B(no-rebal)  wall={bw} med={med(bw)} cpu={bc} med={med(bc)}")
            sys.stdout.flush()
    finally:
        T.REBALANCE_TABLES = full
        T._PLAN_CACHE.clear()


if __name__ == "__main__":
    main()
