"""A/B a runtime SQL conf over registry queries, interleaved in one session.

Usage: python tools/ab_conf.py -c key=val [-n REPS] query [query ...]

Variant A runs with the session's committed conf; variant B applies the
given override. A,B,A,B interleaving in one session means host drift
hits both variants equally; medians of wall and JVM CPU are printed.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    reps = 5
    key = val = None
    while args and args[0] in ("-n", "-c"):
        if args[0] == "-n":
            reps = int(args[1])
        else:
            key, val = args[1].split("=", 1)
        args = args[2:]
    if key is None:
        raise SystemExit("need -c key=val")
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from vmware_graph_spark.operators.pin import release_pins
    from vmware_graph_spark.queries import QUERIES
    from vmware_graph_spark.session import get_spark

    # a small driver heap: the JVM grows toward its cap, and at the
    # engine's 12g default one sf0.1 ingest run reached 13.5 GB RSS
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    spark = get_spark("ab-conf")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10_000).write.format("noop").mode("overwrite").save()
    base = spark.conf.get(key, None)

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

    def run_one(name: str, tag: str, override: bool) -> tuple[float, float]:
        if override:
            spark.conf.set(key, val)
        elif base is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, base)
        spark.sparkContext.setJobDescription(f"ab:{name}:{tag}")
        c0, t0 = _jvm_cpu(), time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        w, c = time.time() - t0, _jvm_cpu() - c0
        release_pins()
        return round(w, 3), round(c, 2)

    def med(v):
        s = sorted(v)
        return s[len(s) // 2]

    for name in names:
        run_one(name, "warmA", False)
        run_one(name, "warmB", True)
        aw, ac, bw, bc = [], [], [], []
        for _ in range(reps):
            w, c = run_one(name, "A", False)
            aw.append(w); ac.append(c)
            w, c = run_one(name, "B", True)
            bw.append(w); bc.append(c)
        print(f"{name}: A(base)      wall med={med(aw)} {aw} cpu med={med(ac)} {ac}")
        print(f"{name}: B({key}={val}) wall med={med(bw)} {bw} cpu med={med(bc)} {bc}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
