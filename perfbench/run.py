#!/usr/bin/env python3
"""Refresh-cycle benchmark for the vmware_graph_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run is one process, as one
``python -m vmware_graph_spark refresh`` invocation is: it starts the
engine's Spark session on ``local[<cpus>]`` and then drives a closed
loop, one client and one op at a time, until ``--seconds`` of op time
have passed (at least one op). Workloads:

``refresh_parquet_1x``
    One CLI-equivalent refresh of an export A', as a per-sheet parquet
    directory, onto a published snapshot of A:
    ``read_workbook_dir`` -> ``GraphStore.read``
    -> ``refresh`` -> ``orphans.count()`` -> ``.store`` -> ``publish``
    -> ``GraphStore.read(...).counts()``. The snapshot of A is restored
    from a pristine copy before each op, outside the timed region.
``snapshot_analytics_1x``
    Read-only: ``GraphStore.read`` -> ``analytics_views`` -> degrees,
    connected components, fixed-point PageRank, BFS and a two-hop motif,
    each forced by a parquet write so its output can be checked.

Inputs come from ``gen.py``; the seed picks the A -> A' delta (refresh)
or the BFS sources (analytics). Template A and its pristine snapshot,
which both workloads share, are built once per checkout by
``--prepare`` in a child process and cached under ``.perfbench_work/``. Outputs are checked by ``checks.py``
(DuckDB and plain Python). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the input hash, per-op walls and counts.

``--trace 1`` wraps the public calls in spans, counts py4j round trips
and lineage cuts, reads Spark's status store after each op, prints the
per-layer metrics and writes the spans to ``.perfbench_work/traces/``.

The command runs the benchmark in a child process in a session of its
own and exits only once every process of that session (the child, the
``--prepare`` process, their JVMs and any Spark Python workers) has
ended.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import spans as tr_mod  # noqa: E402

# TPC-H scale factor of export A: 12 sheets, 5 vCenters, 20.7k nodes
SF = 0.01
WORKLOADS = ("refresh_parquet_1x", "snapshot_analytics_1x")
MOTIF = ("VDISK_FOR_VM", "LOCATED_IN_CLUSTER")  # disk -> VM -> cluster
BFS_EXTRA_SOURCES = 4


def _cache_dir() -> str:
    """Keyed by the code that builds the cache: the benchmark's generator
    and the engine, which derives the template and first-builds the
    pristine snapshot. Any edit to either rebuilds it."""
    h = gen.hashlib.sha256()
    engine = os.path.join(ROOT, "vmware_graph_spark")
    sources = [os.path.join(HERE, "gen.py"), os.path.join(HERE, "run.py")]
    for d, dirs, files in os.walk(engine):
        dirs.sort()
        sources += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for path in sources:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return os.path.join(WORK, f"cache-{h.hexdigest()[:12]}")


def _configure_env() -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and size the session for a small shared host."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # At the engine's 12g default the JVM grows its heap toward the cap
    # (11.5 GiB RSS on a 20.7k-node refresh), not toward the live set;
    # 2g keeps a run small on a host shared with other work.
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # -UsePerfData: no hsperfdata file in the system temp dir, from
    # either spark-submit's launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            # enough status-store history for one op's jobs and stages
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = tmp


def _session():
    from vmware_graph_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for its JVM, which exits once its stdin
    closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def _first_build(spark, sheets, snap: str) -> None:
    from vmware_graph_spark.ingest.refresh import refresh

    refresh(spark, sheets).store.publish(snap)


# -- one-time preparation -----------------------------------------------------


def prepare(cache: str) -> None:
    """Template A, A as a parquet workbook directory and the pristine
    snapshot of A. Runs in its own process so the measured process
    always starts cold."""
    from vmware_graph_spark.sources.workbook import read_workbook_dir

    from checks import connect

    spark = _session()
    tmp = cache + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    base = os.path.join(tmp, "base")
    gen.write_base_tables(base, SF)
    gen.derive_template(spark, base, os.path.join(tmp, "template.json.gz"))
    book = gen.load_template(os.path.join(tmp, "template.json.gz"))
    pq_dir = os.path.join(tmp, "A")
    gen.write_parquet_dir(pq_dir, book)
    _first_build(spark, read_workbook_dir(spark, pq_dir), os.path.join(tmp, "snap-A"))
    con, _ = connect(os.path.join(tmp, "snap-A"))
    ids = {
        label: [r[0] for r in con.execute(
            "SELECT label || chr(31) || key FROM nodes WHERE label = ? ORDER BY 1", [label]
        ).fetchall()]
        for label in ("Vcenterserver", "Virtualmachine")
    }
    with open(os.path.join(tmp, "ids.json"), "w") as f:
        json.dump(ids, f)
    _stop(spark)
    shutil.rmtree(cache, ignore_errors=True)
    os.replace(tmp, cache)


def ensure_cache() -> str:
    cache = _cache_dir()
    if not os.path.isdir(cache):
        for old in os.listdir(WORK):
            if old.startswith("cache-"):
                shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--prepare"],
            check=True,
            stdout=sys.stderr,
        )
    return cache


# -- ops ----------------------------------------------------------------------


def refresh_op(spark, tr, workbook: str, snap: str) -> dict:
    """The ``python -m vmware_graph_spark refresh`` sequence."""
    from vmware_graph_spark.ingest.refresh import refresh
    from vmware_graph_spark.sources.workbook import read_workbook_dir
    from vmware_graph_spark.store.graph import GraphStore

    with tr.span("sources.workbook.read"):
        sheets = read_workbook_dir(spark, workbook)
    with tr.span("store.graph.read"):
        prev = GraphStore.read(spark, snap)
    with tr.span("ingest.refresh.refresh"):
        res = refresh(spark, sheets, prev=prev if prev.labels() else None)
    with tr.span("ingest.refresh.orphans"):
        orphans = res.orphans.count()
    with tr.span("ingest.refresh.edge_finish"):
        store = res.store
    with tr.span("store.graph.publish"):
        store.publish(snap)
    with tr.span("store.graph.read"):
        published = GraphStore.read(spark, snap)
    with tr.span("store.graph.counts"):
        counts = published.counts()
    return {"orphans": orphans, "counts": counts}


def analytics_op(spark, tr, snap: str, out: str, sources: list[str]) -> dict:
    from vmware_graph_spark.analytics import algos, motif
    from vmware_graph_spark.store.graph import GraphStore

    def force(name: str, df) -> None:
        df.write.mode("overwrite").parquet(os.path.join(out, name))

    with tr.span("store.graph.read"):
        g = GraphStore.read(spark, snap)
    with tr.span("store.graph.analytics_views"):
        v, e = g.analytics_views()
    with tr.span("analytics.algos.degrees"):
        force("degrees", algos.degrees(e))
    with tr.span("analytics.algos.connected_components"):
        force("cc", algos.connected_components(v, e))
    with tr.span("analytics.algos.pagerank_fixed"):
        force("pagerank", algos.pagerank_fixed(v, e))
    with tr.span("analytics.motif.bfs_distances"):
        src = spark.createDataFrame([(s,) for s in sources], "id string")
        force("bfs", motif.bfs_distances(v, e, src))
    with tr.span("analytics.motif.two_hop_motif"):
        force("motif", motif.two_hop_motif(g.edges(), *MOTIF))
    return {}


# -- checks -------------------------------------------------------------------


def _expected(workload: str, seed: int) -> dict | None:
    with open(os.path.join(HERE, "expected_counts.json")) as f:
        ledger = json.load(f)
    entries = ledger.get(workload, {})
    return entries.get(str(seed), entries.get("*"))


def check_refresh_op(ctx, result) -> tuple[list[str], dict]:
    import checks

    problems, counts = checks.check_snapshot(ctx["snap"])
    problems += checks.check_refresh(
        ctx["snap"], ctx["pristine"], ctx["removed"], ctx["tenants"], result["orphans"]
    )
    if counts != result["counts"]:
        problems.append("engine counts differ from the published snapshot's")
    summary = {
        "orphans": result["orphans"],
        "nodes": sum(n for k, n in counts.items() if k.startswith("v:")),
        "edges": counts["edges"],
    }
    return problems, summary


def check_analytics_op(ctx, _result) -> tuple[list[str], dict]:
    import checks

    out = ctx["out"]
    problems, counts = checks.check_snapshot(ctx["snap"])
    ids, es = ctx["graph"]
    got = dict(checks.read_pairs(os.path.join(out, "degrees"), "id, degree"))
    if got != checks.expected_degrees(es):
        problems.append("degrees differ")
    cc = dict(checks.read_pairs(os.path.join(out, "cc"), "id, component"))
    if cc != checks.expected_components(ids, es):
        problems.append("connected components differ")
    pr = dict(checks.read_pairs(os.path.join(out, "pagerank"), "id, rank_micros"))
    if pr != checks.expected_pagerank(ids, es):
        problems.append("pagerank differs")
    bfs = dict(checks.read_pairs(os.path.join(out, "bfs"), "id, dist"))
    if bfs != checks.expected_bfs(es, ctx["sources"]):
        problems.append("bfs distances differ")
    n_motif = len(checks.read_pairs(os.path.join(out, "motif"), "a"))
    if n_motif != ctx["motif_rows"]:
        problems.append(f"motif rows: engine {n_motif}, expected {ctx['motif_rows']}")
    summary = {
        "nodes": sum(n for k, n in counts.items() if k.startswith("v:")),
        "edges": counts["edges"],
        "components": len(set(cc.values())),
        "bfs_reached": len(bfs),
        "motif_rows": n_motif,
    }
    return problems, summary


# -- workload set-up ----------------------------------------------------------


def setup_refresh(cache: str, seed: int, run_dir: str) -> dict:
    full = gen.load_template(os.path.join(cache, "template.json.gz"))
    book = gen.apply_delta(full, seed)
    workbook = os.path.join(run_dir, "A-prime")
    gen.write_parquet_dir(workbook, book)
    digest = gen.hashlib.sha256(json.dumps(book, sort_keys=True).encode()).hexdigest()
    vc = book["vCluster"]
    tenants = sorted({r[vc["header"].index("VI SDK UUID")] for r in vc["rows"]})
    pristine = os.path.join(cache, "snap-A")
    snap = os.path.join(run_dir, "snapshot")

    def reset() -> None:
        shutil.rmtree(snap, ignore_errors=True)
        shutil.copytree(pristine, snap)

    return {
        "snap": snap,
        "pristine": pristine,
        "reset": reset,
        "tenants": tenants,
        "removed": gen.removed_keys(full, seed),
        "input_sha256": digest,
        "rows": gen.book_rows(book),
        "op": lambda spark, tr: refresh_op(spark, tr, workbook, snap),
        "check": check_refresh_op,
    }


def setup_analytics(cache: str, seed: int, run_dir: str) -> dict:
    import checks

    snap = os.path.join(cache, "snap-A")
    with open(os.path.join(cache, "ids.json")) as f:
        ids = json.load(f)
    rng = random.Random(seed)
    sources = ids["Vcenterserver"] + rng.sample(ids["Virtualmachine"], BFS_EXTRA_SOURCES)
    out = os.path.join(run_dir, "out")
    con, _ = checks.connect(snap)
    motif_rows = con.execute(
        "SELECT count(*) FROM edges a JOIN edges b ON a.dst_key = b.src_key "
        "WHERE a.rel_type = ? AND b.rel_type = ?",
        list(MOTIF),
    ).fetchone()[0]
    digest = gen.hashlib.sha256(
        (gen.file_sha256(os.path.join(cache, "template.json.gz")) + json.dumps(sources)).encode()
    ).hexdigest()
    return {
        "snap": snap,
        "out": out,
        "reset": lambda: shutil.rmtree(out, ignore_errors=True),
        "sources": sources,
        "graph": checks.graph_edges(snap),
        "motif_rows": motif_rows,
        "input_sha256": digest,
        "rows": 0,
        "op": lambda spark, tr: analytics_op(spark, tr, snap, out, sources),
        "check": check_analytics_op,
    }


# -- metrics ------------------------------------------------------------------


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def _wrap_stages(tracer) -> None:
    """Time each ``STAGES`` entry where ``run_ingest`` iterates them."""
    from vmware_graph_spark.ingest import stages

    for i, fn in enumerate(list(stages.STAGES)):
        name = f"ingest.stages.{fn.__name__}"
        w = tracer.wrapped(fn, name)
        stages.STAGE_SHEETS[w] = stages.STAGE_SHEETS[fn]
        stages.STAGES[i] = w


def layer_metrics(tracer, op: str, wall: float, jobs, stages_, op_window, ctx, summary) -> dict:
    from vmware_graph_spark.ingest import stages

    st = tracer.self_times(op)
    incl = tracer.inclusive_py4j(op)

    def self_s(name):
        return st.get(name, {}).get("self_s", 0.0)

    def total_s(name):
        return st.get(name, {}).get("total_s", 0.0)

    m = {"trace.op_s": (wall, "s"), "trace.unattributed_s": (self_s("op"), "s")}
    m["sources.workbook.read_s"] = (self_s("sources.workbook.read"), "s")
    m["sources.workbook.rows"] = (ctx["rows"] if "sources.workbook.read" in st else 0, "count")
    for fn in stages.STAGES:
        name = fn.__name__
        m[f"ingest.stages.{name}.plan_s"] = (self_s(f"ingest.stages.{name}"), "s")
        m[f"ingest.stages.{name}.py4j_calls"] = (incl.get(f"ingest.stages.{name}", 0), "count")
    m["ingest.refresh.refresh_s"] = (total_s("ingest.refresh.refresh"), "s")
    m["ingest.refresh.sweep_plan_s"] = (self_s("ingest.refresh.refresh"), "s")
    m["ingest.refresh.orphans_s"] = (self_s("ingest.refresh.orphans"), "s")
    m["ingest.refresh.edge_finish_s"] = (self_s("ingest.refresh.edge_finish"), "s")
    m["ingest.refresh.orphans"] = (summary.get("orphans", 0), "count")
    for name in ("read", "publish", "counts", "analytics_views"):
        m[f"store.graph.{name}_s"] = (self_s(f"store.graph.{name}"), "s")
    m["store.graph.nodes"] = (summary.get("nodes", 0), "count")
    m["store.graph.edges"] = (summary.get("edges", 0), "count")
    cut = st.get("lineage.cut", {})
    m["lineage.cuts"] = (cut.get("calls", 0), "count")
    m["lineage.cut_s"] = (cut.get("self_s", 0.0), "s")
    for name in ("algos.degrees", "algos.connected_components", "algos.pagerank_fixed",
                 "motif.bfs_distances", "motif.two_hop_motif"):
        m[f"analytics.{name}_s"] = (self_s(f"analytics.{name}"), "s")
    for k, v in tr_mod.spark_metrics(jobs, stages_, op_window).items():
        m[k] = (v, "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count")
    m["py4j.calls"] = (incl.get("op", 0), "count")
    return m


# -- main ---------------------------------------------------------------------


def run(args) -> int:
    try:
        import vmware_graph_spark  # noqa: F401
    except ImportError as e:
        print(f"engine not importable: {e}", file=sys.stderr)
        return 2
    t_import = time.time()
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {WORKLOADS}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    _configure_env()
    cache = ensure_cache()

    t_gen = time.time()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if args.workload.startswith("refresh_"):
        ctx = setup_refresh(cache, args.seed, run_dir)
    else:
        ctx = setup_analytics(cache, args.seed, run_dir)
    gen_s = time.time() - t_gen

    # set-up: engine import + session start + the first op's reset
    t0 = time.time()
    import vmware_graph_spark.analytics.algos  # noqa: F401
    import vmware_graph_spark.analytics.motif  # noqa: F401
    import vmware_graph_spark.ingest.refresh  # noqa: F401
    import vmware_graph_spark.sources.workbook  # noqa: F401

    spark = _session()
    ctx["reset"]()
    setup_s = (t_import - T_START) + (time.time() - t0)

    tracer = tr_mod.Tracer(bool(args.trace))
    counters = tr_mod.SparkCounters(spark) if args.trace else None
    if args.trace:
        _wrap_stages(tracer)
        tracer.install()

    walls, summaries, problems, layer = [], [], [], []
    attempted = failed = 0
    measured = 0.0
    while attempted == 0 or measured < args.seconds:
        if attempted:
            ctx["reset"]()
        attempted += 1
        op_id = f"op{attempted}"
        tracer.op_id = op_id
        first_job = counters.max_job_id() if counters else -1
        gc0 = counters.gc_s() if counters else 0.0
        t = time.time()
        try:
            with tracer.span("op"):
                result = ctx["op"](spark, tracer)
        except Exception as e:  # an op that raises counts as failed
            traceback.print_exc()
            failed += 1
            problems.append(f"{op_id}: {type(e).__name__}: {e}"[:500])
            measured += time.time() - t
            continue
        wall = time.time() - t
        measured += wall
        walls.append(wall)
        if counters:
            gc_s = counters.gc_s() - gc0
            heap_mb = counters.heap_after_gc_mb()
        try:
            errs, summary = ctx["check"](ctx, result)
        except Exception as e:  # e.g. an output the engine did not write
            traceback.print_exc()
            errs, summary = [f"check raised {type(e).__name__}: {e}"[:500]], {}
        expected = _expected(args.workload, args.seed)
        if expected is not None and any(summary.get(k) != v for k, v in expected.items()):
            errs.append(f"counts {summary} differ from the recorded {expected}")
        if errs:
            failed += 1
            problems += [f"{op_id}: {p}" for p in errs]
        summaries.append(summary)
        if counters:
            jobs, stages_ = counters.since(first_job)
            m = layer_metrics(tracer, op_id, wall, jobs, stages_, (t, t + wall), ctx, summary)
            m["jvm.gc_s"] = (gc_s, "s")
            m["jvm.heap_after_gc_mb"] = (heap_mb, "MiB")
            layer.append(m)

    jvm_pid = spark.sparkContext._gateway.proc.pid
    peak_rss_mb = (_hwm_kb(os.getpid()) + _hwm_kb(jvm_pid)) / 1024
    snapshot_mb = _dir_mb(ctx["snap"])
    if args.trace:
        tracer.uninstall()
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
    _stop(spark)

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "input_sha256": ctx["input_sha256"],
        "gen_s": round(gen_s, 3),
        "op_walls_s": [round(w, 3) for w in walls],
        "summary": summaries[-1] if summaries else {},
        "problems": problems[:20],
    }
    print(json.dumps({"info": info}))

    if args.trace:
        metrics = {
            k: {"value": statistics.median(op[k][0] for op in layer), "unit": v[1]}
            for k, v in (layer[0].items() if layer else [])
        }
    else:
        metrics = {
            "op_s": {"value": statistics.median(walls or [measured]), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MiB"},
            "snapshot_mb": {"value": snapshot_mb, "unit": "MiB"},
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


PR_SET_CHILD_SUBREAPER = 36


def _session_pids(sid: int) -> list[int]:
    """Processes, zombies included, whose session id is ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # after "(comm)": state, ppid, pgrp, session, ...
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[3] == str(sid):
            pids.append(int(name))
    return pids


def _end_session(sid: int, grace_s: float) -> None:
    """Wait until every process of session ``sid`` has ended and been
    reaped (an orphan is reparented here, so its zombie is reaped here
    too). After ``grace_s`` send SIGTERM, 10 s later SIGKILL, and give up
    10 s after that."""
    import signal

    deadline = time.time() + grace_s
    signals = [signal.SIGTERM, signal.SIGKILL, None]
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        pids = _session_pids(sid)
        if not pids:
            return
        if time.time() >= deadline:
            sig = signals.pop(0)
            if sig is None:
                print(f"processes {pids} did not end", file=sys.stderr)
                return
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process that leads a session of its
    own, and return only once every process of that session has ended.
    The JVM pyspark starts exits on its own only after the Python that
    started it has gone, and pyspark's worker daemon moves into a process
    group of its own (not a session). As a child subreaper this process
    inherits and reaps whatever the child leaves behind."""
    import ctypes
    import signal

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--child", *argv],
        start_new_session=True,
    )
    try:
        code = child.wait()
    finally:
        # an interrupted wait leaves the child running: stop it at once
        _end_session(child.pid, grace_s=30.0 if child.returncode is not None else 0.0)
    return code if code >= 0 else 128 - code


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.prepare:
        _configure_env()
        prepare(_cache_dir())
        return 0
    if not args.workload:
        p.error("--workload is required")
    if not args.child:
        return supervise(argv)
    return run(args)


if __name__ == "__main__":
    raise SystemExit(main())
