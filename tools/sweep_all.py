"""Registry-wide per-query timing sweep (noop sink + JVM CPU seconds).

Usage: python tools/sweep_all.py [-n REPS] [-o OUT.jsonl] [start [end]]

Times EVERY registry query at $SPARK_GRAFT_SF_DIR with the noop sink
(guide §1.4) and records wall seconds plus JVM CPU seconds per rep —
the CPU figure is the load-robust A/B metric on a noisy host. Results
stream to the JSONL output as they finish so a partial sweep is still
usable. Pins are released after every rep (same per-invocation
isolation as bench.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    reps = 2
    out_path = "/tmp/sweep_all.jsonl"
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    if args and args[0] == "-o":
        out_path = args[1]
        args = args[2:]
    start = int(args[0]) if args else 0
    end = int(args[1]) if len(args) > 1 else None

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from vmware_graph_spark.operators.pin import release_pins
    from vmware_graph_spark.queries import QUERIES
    from vmware_graph_spark.session import get_spark

    # a small driver heap: the JVM grows toward its cap, and at the
    # engine's 12g default one sf0.1 ingest run reached 13.5 GB RSS
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    spark = get_spark("sweep")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10_000).write.format("noop").mode("overwrite").save()

    import subprocess

    def _jvm_pid() -> int | None:
        out = subprocess.run(
            ["pgrep", "-f", "org.apache.spark.deploy"],
            capture_output=True, text=True,
        ).stdout.split()
        return int(out[0]) if out else None

    jpid = _jvm_pid()
    tick = os.sysconf("SC_CLK_TCK")

    def _jvm_cpu() -> float:
        if jpid is None:
            return 0.0
        with open(f"/proc/{jpid}/stat") as f:
            parts = f.read().split()
        return (int(parts[13]) + int(parts[14])) / tick

    names = list(QUERIES)[start:end]
    with open(out_path, "a") as out:
        for i, name in enumerate(names):
            ts, cs = [], []
            err = None
            for _ in range(reps):
                spark.sparkContext.setJobDescription(f"sweep:{name}")
                c0, t0 = _jvm_cpu(), time.time()
                try:
                    QUERIES[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception as e:  # noqa: BLE001 — record and continue
                    err = f"{type(e).__name__}: {e}"[:300]
                    break
                ts.append(round(time.time() - t0, 3))
                cs.append(round(_jvm_cpu() - c0, 2))
                release_pins()
            rec = {"q": name, "wall": ts, "cpu": cs, "load": round(os.getloadavg()[0], 1)}
            if err:
                rec["err"] = err
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(f"[{start + i + 1}] {name}: wall={ts} cpu={cs}", flush=True)


if __name__ == "__main__":
    main()
