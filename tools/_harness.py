"""What every measurement tool shares: session start, timing, argv and
report writing.

A tool imports this module as ``from tools import _harness as h`` after
putting the repository root on ``sys.path``, so the same line works
when the tool runs as a script and when a test imports it.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import reduce

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark(app: str):
    """The engine session at a 4g heap unless ``SPARK_DRIVER_MEM``
    says otherwise: the JVM grows toward its cap, and at the engine's 12g
    default one sf0.1 ingest run reached 13.5 GB of RSS."""
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    from vmware_graph_spark.session import get_spark

    return get_spark(app)


def jvm_cpu_s(spark) -> float:
    """Cumulative CPU seconds (user + system) of the session's JVM: a
    load-robust cost for A/B runs on a shared host, where other
    processes inflate wall time but not this process's CPU."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:  # a gateway this process did not launch
        return 0.0
    with open(f"/proc/{proc.pid}/stat") as f:
        parts = f.read().split()
    return (int(parts[13]) + int(parts[14])) / os.sysconf("SC_CLK_TCK")


class timed:
    """``with timed() as t: ...`` leaves the block's wall seconds in
    ``t.s``, rounded to ``ndigits``."""

    def __init__(self, ndigits: int = 2):
        self.ndigits = ndigits

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = round(time.perf_counter() - self.t0, self.ndigits)


def run_query(spark, name: str, sf_dir: str, tag: str):
    """Run registry query ``name`` into the noop sink, so every column of
    every row is computed without a real sink. Returns ``(wall_s,
    jvm_cpu_s, df)``. Persisted pins are released after the run, so the
    next run recomputes from parquet instead of reading this run's
    DISK_ONLY blocks (the per-invocation isolation bench.py uses)."""
    from vmware_graph_spark.operators.pin import release_pins
    from vmware_graph_spark.queries import QUERIES

    spark.sparkContext.setJobDescription(f"{tag}:{name}")
    c0 = jvm_cpu_s(spark)
    try:
        with timed(3) as t:
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        return t.s, round(jvm_cpu_s(spark) - c0, 2), df
    finally:
        release_pins()


def cli(default_tiers=()) -> tuple[list[str], list[int]]:
    """Split argv into its words and its ``[tiers…]`` (the all-digit
    arguments, else ``default_tiers``). Flags (``--merge`` and the like)
    are in neither: a tool tests ``sys.argv`` for them."""
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    tiers = [int(a) for a in args if a.isdigit()] or list(default_tiers)
    return [a for a in args if not a.isdigit()], tiers


def shifted_copies(df, copies, **cols):
    """The union of one copy of ``df`` per ``i`` in ``copies``, each with
    the named columns replaced by ``cols[name](i)``: the key-shifted,
    content-perturbed copies the scale fixtures are built from."""
    from pyspark.sql import DataFrame

    parts = [df.withColumns({c: fn(i) for c, fn in cols.items()}) for i in copies]
    return reduce(DataFrame.unionByName, parts)


def shift(col: str, step: int):
    """A ``shifted_copies`` column function: copy ``i`` adds ``i * step``
    to ``col``, so every copy's keys are disjoint."""
    from pyspark.sql import functions as F

    return lambda i: F.col(col) + F.lit(i * step)


def du_bytes(path: str) -> int:
    """Bytes in the files under ``path``, recursively."""
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def progress(section: dict, key: str, entry: dict) -> None:
    """Set ``section[key] = entry`` and echo the entry to stderr, so a
    long run shows each tier as it finishes."""
    section[key] = entry
    print(json.dumps({key: entry}), file=sys.stderr)


def write_report(tool: str, report: dict, path: str | None = None,
                 artifact: str | None = None) -> None:
    """Write ``report`` as indented JSON and print it on one line. With
    ``--merge`` on the command line, each top-level key of ``report`` is
    set as a section of the root ``artifact``; otherwise the report goes
    to ``path``, by default ``/tmp/<tool>.json``."""
    if artifact and "--merge" in sys.argv:
        path = os.path.join(REPO, artifact)
        with open(path) as f:
            doc = {**json.load(f), **report}
    else:
        path, doc = path or f"/tmp/{tool}.json", report
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    print(json.dumps(report))
