"""Scale measurement for the reference's CORE workload: the full
RVTools 2-pass refresh (refresh-vmware.cypher E1 — mark → ingest →
sweep), per stage, at 1×/10×/100× workbook volume (round-7 VERDICT
"Next #1": everything above sf0.01 was unmeasured).

The synthetic workbook derives hosts from ``supplier`` and VMs from
``customer`` (queries.py `_workbook`), so workbook volume scales with
those tables while the vCenter/cluster dimensions stay fixed (5 vCs /
25 clusters) — the growth mode a real estate has (more VMs per
cluster, not more vCenters):

- 1×   = sf0.01  (1.5k VMs / 100 hosts — the round-3..7 datapoint)
- 10×  = sf0.1   (15k VMs / 1k hosts — driver-provided)
- 100× = /tmp/vgs_ingest_scale (150k VMs / 10k hosts — ten key-shifted
  copies of sf0.1's customer+supplier; nation/region/orders as-is)

Per scale, two measurements:

1. HEADLINE (production shape, no extra materialization):
   cold build  = run_ingest(workbook A) + publish snapshot
   refresh     = refresh(workbook A′, prev) + orphan count + publish
2. PER-STAGE attribution (separate run): after each stage call, force
   the labels/edge batches that stage queued — extra flushes make the
   total exceed the headline (stated in the artifact), but the split
   shows which stage's EXECUTION grows with volume, which the lazy
   headline run cannot attribute.

The committed 100× tier was measured at the engine's old 12g default
heap; set SPARK_DRIVER_MEM=12g to reproduce it.

Usage: python tools/ingest_scalebench.py [out_json] [scales...]
       scales from {1,10,100}; default all three.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

SCALED = "/tmp/vgs_ingest_scale"
SNAP = "/tmp/vgs_ingest_snap"
COPY_AS_IS = ["region", "nation", "orders"]
SHIFT = {"supplier": "s_suppkey", "customer": "c_custkey"}


def build_scaled(spark, n_copies: int = 10) -> None:
    """Ten key-shifted copies of sf0.1's customer/supplier → ~150k VMs /
    10k hosts. Shifted keys keep every `ck % k` branch distribution of
    the vInfo fixture; names collide across copies (real estates have
    duplicate VM names) while UUIDs — derived from the key — stay
    unique."""
    base = "/root/testdata/sf0.1"
    shutil.rmtree(SCALED, ignore_errors=True)
    for t in COPY_AS_IS + list(SHIFT):
        df = spark.read.parquet(f"{base}/{t}.parquet")
        if t in SHIFT:
            df = h.shifted_copies(
                df, range(n_copies), **{SHIFT[t]: h.shift(SHIFT[t], 10_000_000)}
            )
        df.write.mode("overwrite").parquet(f"{SCALED}/{t}.parquet")


def _fresh_snap(tag: str) -> str:
    d = f"{SNAP}_{tag}"
    shutil.rmtree(d, ignore_errors=True)
    return d


def headline(spark, sf_dir: str, tag: str) -> dict:
    """Production-shape cold build + A→A′ refresh, one number each."""
    from vmware_graph_spark.ingest.refresh import refresh, run_ingest
    from vmware_graph_spark.queries import _workbook
    from vmware_graph_spark.store.graph import GraphStore

    snap = _fresh_snap(tag)

    with h.timed(1) as cold:
        run_ingest(spark, _workbook(spark, sf_dir)).publish(snap)
    counts = GraphStore.read(spark, snap).counts()

    with h.timed(1) as ref:
        prev = GraphStore.read(spark, snap)
        res = refresh(spark, _workbook(spark, sf_dir, prime=True), prev=prev)
        orphans = res.orphans.count()
        res.store.publish(snap)

    return {
        "cold_build_s": cold.s,
        "refresh_sweep_s": ref.s,
        "orphans_swept": orphans,
        "labels": len([k for k in counts if k != "edges"]),
        "nodes": sum(v for k, v in counts.items() if k != "edges"),
        "edges": counts.get("edges", 0),
    }


def per_stage(spark, sf_dir: str) -> dict[str, float]:
    """Stage-attributed cold build: force-materialize what each stage
    queued right after its call. Totals exceed the headline (extra
    flush jobs) by design — this run answers 'which stage grows',
    not 'how long is the build'."""
    from vmware_graph_spark.ingest.stages import STAGE_SHEETS, STAGES
    from vmware_graph_spark.queries import _workbook
    from vmware_graph_spark.store.graph import GraphStore

    sheets = _workbook(spark, sf_dir)
    store = GraphStore(spark)
    out: dict[str, float] = {}
    for stage in STAGES:
        if STAGE_SHEETS[stage] not in sheets:
            continue
        seen_batches = len(store._edge_batches)
        with h.timed() as t:
            stage(store, sheets)
            # force exactly what this stage queued: its pending label
            # merges (flush + materialize) and its new edge batches
            for label in list(store._pending):
                store.vertices(label).write.format("noop").mode("overwrite").save()
            for b in store._edge_batches[seen_batches:]:
                b.write.format("noop").mode("overwrite").save()
        out[stage.__name__] = t.s
    return out


def main() -> None:
    words, scales = h.cli([1, 10, 100])
    spark = h.spark("ingest-scalebench")

    dirs = {1: "/root/testdata/sf0.01", 10: "/root/testdata/sf0.1", 100: SCALED}
    report: dict = {"scales": {}, "load_1m_at_start": round(os.getloadavg()[0], 2)}
    if 100 in scales:
        with h.timed(1) as t:
            build_scaled(spark)
        report["build_100x_s"] = t.s

    for s in scales:
        print(f"== scale {s}x ({dirs[s]}) ==", file=sys.stderr)
        entry = headline(spark, dirs[s], f"s{s}")
        entry["per_stage_forced_s"] = per_stage(spark, dirs[s])
        h.progress(report["scales"], f"{s}x", entry)
    h.write_report("ingest_scalebench", report, words[0] if words else None)


if __name__ == "__main__":
    main()
