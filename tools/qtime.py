"""Time single registry queries with the noop sink + dump FINAL plans.

Usage: python tools/qtime.py [-n REPS] query [query ...]

Per guide §1.4: each query is forced with a noop write so the full
computation (every column, every row) is timed without a real sink.
After the run the FINAL adaptive plan (post-AQE, with ReusedExchange /
AQEShuffleRead nodes) is printed — explain() before execution only
shows the initial plan, which hides runtime exchange reuse.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    show_plan = True
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    if args and args[0] == "--noplan":
        show_plan = False
        args = args[1:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from vmware_graph_spark.queries import QUERIES
    from vmware_graph_spark.session import get_spark

    # a small driver heap: the JVM grows toward its cap, and at the
    # engine's 12g default one sf0.1 ingest run reached 13.5 GB RSS
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    # warm codegen + noop commit path once (mirrors bench.py)
    spark.range(10_000).write.format("noop").mode("overwrite").save()

    def _jvm_pid() -> int | None:
        import subprocess

        try:
            out = subprocess.run(
                ["pgrep", "-f", "org.apache.spark.deploy"],
                capture_output=True, text=True,
            ).stdout.split()
            return int(out[0]) if out else None
        except Exception:
            return None

    jpid = _jvm_pid()
    tick = os.sysconf("SC_CLK_TCK")

    def _jvm_cpu() -> float:
        """Cumulative JVM CPU seconds (utime+stime) — a load-robust
        cost metric for A/B comparisons on a noisy host: other
        processes inflate wall-clock but not THIS process's CPU."""
        if jpid is None:
            return 0.0
        with open(f"/proc/{jpid}/stat") as f:
            parts = f.read().split()
        return (int(parts[13]) + int(parts[14])) / tick

    # Same per-invocation isolation as bench.py: release persisted pins
    # after every timed rep so rep 2+ recomputes from parquet instead of
    # reading rep 1's DISK_ONLY blocks via CacheManager plan matching.
    from vmware_graph_spark.operators.pin import release_pins

    for name in names:
        ts = []
        cs = []
        df = None
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            c0 = _jvm_cpu()
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
            cs.append(round(_jvm_cpu() - c0, 2))
            release_pins()
        print(f"TIMES {name}: {ts}")
        print(f"JVMCPU {name}: {cs}")
        if show_plan and df is not None:
            print(f"===== FINAL PLAN {name} =====")
            print(df._jdf.queryExecution().executedPlan().toString())
            sys.stdout.flush()


if __name__ == "__main__":
    main()
