"""Time registry queries with the noop sink, in one of three modes.

Usage: python tools/qtime.py [-n REPS] [--noplan] query [query ...]
       python tools/qtime.py -c key=val [-n REPS] query [query ...]
       python tools/qtime.py --all [START [END]] [-n REPS] [-o OUT.jsonl]

Per guide §1.4: each query is forced with a noop write so the full
computation (every column, every row) is timed without a real sink;
wall and JVM CPU seconds are printed per rep (default 3 reps). After
the run the INITIAL physical plan of the timed DataFrame is printed
(``AdaptiveSparkPlan isFinalPlan=false``): the noop write ran its own
query execution, so the post-AQE plan with its AQEShuffleRead /
ReusedExchange nodes is in the Spark UI's SQL tab, not here.

``-c key=val`` A/B-tests a runtime SQL conf: variant A runs with the
session's committed conf, variant B with the override, interleaved
A,B,A,B in one session so host drift hits both equally (one warm-up
each, default 5 reps); medians of wall and JVM CPU are printed.

``--all`` times every registry query from index START to END (default
2 reps) and appends one JSON line per query to OUT.jsonl (default
/tmp/qtime.jsonl) as it finishes, so a partial sweep is still usable.
A query that raises is recorded with its error and the sweep goes on.

Queries read $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data).
"""

from __future__ import annotations

import json
import os
import sys
from statistics import median_high

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402


def _ab(spark, names, sf_dir, reps, key, val) -> None:
    base = spark.conf.get(key, None)

    def run(name, tag, override):
        if override:
            spark.conf.set(key, val)
        elif base is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, base)
        return h.run_query(spark, name, sf_dir, f"ab:{tag}")[:2]

    for name in names:
        run(name, "warmA", False)
        run(name, "warmB", True)
        pairs = [(run(name, "A", False), run(name, "B", True)) for _ in range(reps)]
        for i, label in enumerate(("A(base)     ", f"B({key}={val})")):
            wall = [p[i][0] for p in pairs]
            cpu = [p[i][1] for p in pairs]
            print(
                f"{name}: {label} wall med={median_high(wall)} {wall} "
                f"cpu med={median_high(cpu)} {cpu}",
                flush=True,
            )


def _sweep(spark, bounds, sf_dir, reps, out_path) -> None:
    from vmware_graph_spark.queries import QUERIES

    start = int(bounds[0]) if bounds else 0
    end = int(bounds[1]) if len(bounds) > 1 else None
    with open(out_path, "a") as out:
        for i, name in enumerate(list(QUERIES)[start:end], start + 1):
            rec = {"q": name, "wall": [], "cpu": []}
            try:
                for _ in range(reps):
                    wall, cpu, _df = h.run_query(spark, name, sf_dir, "sweep")
                    rec["wall"].append(wall)
                    rec["cpu"].append(cpu)
            except Exception as e:  # noqa: BLE001 — record and continue
                rec["err"] = f"{type(e).__name__}: {e}"[:300]
            rec["load"] = round(os.getloadavg()[0], 1)
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(f"[{i}] {name}: wall={rec['wall']} cpu={rec['cpu']}", flush=True)


def main() -> None:
    reps, conf, out_path, show_plan, sweep, names = None, None, None, True, False, []
    args = iter(sys.argv[1:])
    for a in args:
        if a == "-n":
            reps = int(next(args))
        elif a == "-c":
            conf = next(args).split("=", 1)
        elif a == "-o":
            out_path = next(args)
        elif a == "--noplan":
            show_plan = False
        elif a == "--all":
            sweep = True
        else:
            names.append(a)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = h.spark("qtime")
    # warm codegen + noop commit path once (mirrors bench.py)
    spark.range(10_000).write.format("noop").mode("overwrite").save()
    if sweep:
        _sweep(spark, names, sf_dir, reps or 2, out_path or "/tmp/qtime.jsonl")
    elif conf:
        _ab(spark, names, sf_dir, reps or 5, *conf)
    else:
        for name in names:
            runs = [h.run_query(spark, name, sf_dir, "qtime") for _ in range(reps or 3)]
            print(f"TIMES {name}: {[r[0] for r in runs]}")
            print(f"JVMCPU {name}: {[r[1] for r in runs]}")
            if show_plan:
                print(f"===== INITIAL PLAN {name} =====")
                print(runs[-1][2]._jdf.queryExecution().executedPlan().toString())
                sys.stdout.flush()


if __name__ == "__main__":
    main()
