"""Streaming kernels at 1×/10×/100× event volume (round-7 VERDICT #5:
the availableNow drains had no scale datapoint; the claim to prove is
that STATE is bounded by the watermark, not by input size).

Scaled input = n time-shifted copies of sf0.1's events (100k rows,
30-day span, 5 types): copy i shifts event_id/user_id (new ids) and ts
by i×31 days, written as its OWN parquet file. With the file source's
``maxFilesPerTrigger=1`` each copy is one micro-batch of an ADVANCING
stream — the watermark moves between batches and closed-window /
join-state eviction actually runs, which a single merged file would
never exercise.

Per scale and kernel we record wall time plus the state-store
evidence from ``StreamingQueryProgress``: max state rows across
batches (``stateOperators.numRowsTotal``), max state bytes, rows
dropped by watermark, input rows. Expected shape: wall grows ≤
linearly with rows; max state rows stays ~flat (windows×types for the
windowed agg; ≤ watermark-horizon rows for the interval join) no
matter the scale.

Kernels:
- windowed    : watermarked tumbling counts → noop sink
- late_phased : the registry late-data audit shape (2-phase drain,
                shared checkpoint — drops observable across restarts)
- interval    : stream-stream interval join (click→view attribution)
- cms / kmv   : mergeable-sketch partial drains + merge read-back

The committed 100× tier was measured at the engine's old 12g default
heap; set SPARK_DRIVER_MEM=12g to reproduce it.

Usage: python tools/streaming_scalebench.py [out_json] [scales...]
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

BASE = "/root/testdata/sf0.1/events.parquet"
ROOT = "/tmp/vgs_stream_scale"


def build(spark, n_copies: int) -> str:
    from pyspark.sql import functions as F

    d = f"{ROOT}/in_{n_copies}x"
    if os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(d)
    ev = spark.read.parquet(BASE)
    for i in range(n_copies):
        c = (
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * 1_000_000))
            .withColumn("user_id", F.col("user_id") + F.lit(i * 100_000))
            .withColumn("ts", F.timestamp_add("DAY", F.lit(31 * i), F.col("ts")))
        )
        c.coalesce(1).write.mode("overwrite").parquet(f"{d}/__tmp")
        src = glob.glob(f"{d}/__tmp/part-*.parquet")[0]
        shutil.move(src, f"{d}/copy-{i:03d}.parquet")
    shutil.rmtree(f"{d}/__tmp")
    return d


def _progress_summary(queries) -> dict:
    """Aggregate StreamingQueryProgress over all batches of all runs."""
    out = {
        "batches": 0,
        "input_rows": 0,
        "dropped_by_watermark": 0,
        "max_state_rows": 0,
        "max_state_bytes": 0,
    }
    for q in queries:
        for p in q.recentProgress:
            out["batches"] += 1
            out["input_rows"] += int(p.get("numInputRows") or 0)
            for so in p.get("stateOperators") or []:
                out["dropped_by_watermark"] += int(
                    so.get("numRowsDroppedByWatermark") or 0
                )
                out["max_state_rows"] = max(
                    out["max_state_rows"], int(so.get("numRowsTotal") or 0)
                )
                out["max_state_bytes"] = max(
                    out["max_state_bytes"], int(so.get("memoryUsedBytes") or 0)
                )
    return out


def _drain_noop(sdf, ckpt: str):
    q = (
        sdf.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def kernel_windowed(spark, in_dir: str, work: str) -> dict:
    from vmware_graph_spark.streaming.events import (
        read_event_stream,
        windowed_event_counts,
    )

    with h.timed(1) as t:
        q = _drain_noop(
            windowed_event_counts(read_event_stream(spark, in_dir)),
            f"{work}/ckpt_windowed",
        )
    return {"wall_s": t.s, **_progress_summary([q])}


def kernel_late_phased(spark, in_dir: str, work: str) -> dict:
    """The registry audit shape: on-time drain, then a late backfill
    against the same checkpoint — drops MUST be observed (>0)."""
    from pyspark.sql import functions as F

    from vmware_graph_spark.streaming.events import stream_windowed_counts_phased

    ev = spark.read.parquet(in_dir)
    on_time = ev.filter(F.col("event_id") % 2 == 0)
    head = on_time.agg(F.max("ts")).first()[0]
    d1, d2 = f"{work}/late_in1", f"{work}/late_in2"
    on_time.coalesce(1).write.mode("overwrite").parquet(d1)
    ev.filter((F.col("event_id") % 2 == 1) & (F.col("ts") <= F.lit(head))).coalesce(
        1
    ).write.mode("overwrite").parquet(d2)
    sdir, out, ckpt = f"{work}/late_src", f"{work}/late_out", f"{work}/late_ckpt"
    os.makedirs(sdir, exist_ok=True)
    with h.timed(1) as t:
        qs = stream_windowed_counts_phased(
            spark,
            [glob.glob(d1 + "/part-*.parquet")[0], glob.glob(d2 + "/part-*.parquet")[0]],
            sdir,
            out,
            ckpt,
        )
    return {"wall_s": t.s, **_progress_summary(qs)}


def kernel_interval(spark, in_dir: str, work: str) -> dict:
    """Click→view attribution: stream-stream interval join, state
    evicted by watermark + time bound."""
    from pyspark.sql import functions as F

    from vmware_graph_spark.streaming.events import (
        interval_join_stream,
        read_event_stream,
    )

    s = read_event_stream(spark, in_dir)
    left = s.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    right = s.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    with h.timed(1) as t:
        q = _drain_noop(
            interval_join_stream(
                left, right, "user_id", "l_ts", "r_ts",
                max_delay_seconds=3600, watermark="2 hours",
            ),
            f"{work}/ckpt_interval",
        )
    return {"wall_s": t.s, **_progress_summary([q])}


def kernel_cms(spark, in_dir: str, work: str) -> dict:
    from pyspark.sql import functions as F

    from vmware_graph_spark.streaming.events import (
        cms_merge_estimates,
        read_event_stream,
        stream_cms_heavy_hitters,
    )

    out, ckpt = f"{work}/cms_out", f"{work}/cms_ckpt"
    with h.timed(1) as t:
        stream_cms_heavy_hitters(
            read_event_stream(spark, in_dir), F.col("event_type"), out, ckpt
        )
        est = cms_merge_estimates(spark, out).count()
    return {"wall_s": t.s, "estimates": est}


def kernel_kmv(spark, in_dir: str, work: str) -> dict:
    from pyspark.sql import functions as F

    from vmware_graph_spark.streaming.events import (
        kmv_merge_estimate,
        read_event_stream,
        stream_kmv_partials,
    )

    out, ckpt = f"{work}/kmv_out", f"{work}/kmv_ckpt"
    with h.timed(1) as t:
        stream_kmv_partials(
            read_event_stream(spark, in_dir),
            F.col("event_type"),
            F.col("user_id"),
            out,
            ckpt,
            k=256,
            seed=0,
        )
        est = kmv_merge_estimate(spark, out, k=256).count()
    return {"wall_s": t.s, "groups": est}


def kernel_stream_dedup(spark, in_dir: str, work: str) -> dict:
    """Continuous-arrival corpus dedup (round-9 prepared-reference
    path): n_copies 500-doc arrival batches — one parquet file each,
    ``maxFilesPerTrigger=1`` so every copy is its own micro-batch —
    deduped against the FIXED sf0.1 reference corpus. The claims to
    prove at scale: total wall ∝ total arrivals with per-batch cost
    FLAT (the reference's artifacts are derived+persisted ONCE by
    ``prepare_dedup_reference``, never per batch), and the pin
    registry is EMPTY after the drain (every batch's own DISK_ONLY
    blocks reclaimed at its boundary — the round-8 ADVICE leak)."""
    from pyspark.sql import functions as F

    from vmware_graph_spark.operators.pin import _LIVE_PINS
    from vmware_graph_spark.streaming.events import stream_dedup_against

    n_copies = int(in_dir.rsplit("_", 1)[1].rstrip("x"))
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    ref = docs  # the full 5k-doc corpus is the reference
    arr_dir = f"{work}/dedup_arrivals"
    os.makedirs(arr_dir)
    base = docs.filter(F.col("doc_id") % 7 == 0).limit(500)
    for i in range(n_copies):
        c = base.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
        if i % 2:  # odd copies: novel text (kept); even copies: dups
            c = c.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda x: F.concat(x, F.lit(f"~a{i}")),
                    ),
                    " ",
                ),
            )
        c.coalesce(1).write.mode("overwrite").parquet(f"{arr_dir}/__tmp")
        src = glob.glob(f"{arr_dir}/__tmp/part-*.parquet")[0]
        shutil.move(src, f"{arr_dir}/batch-{i:03d}.parquet")
    shutil.rmtree(f"{arr_dir}/__tmp")

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arr_dir)
    )
    out, ckpt = f"{work}/dedup_out", f"{work}/dedup_ckpt"
    with h.timed(1) as t:
        stream_dedup_against(sdf, ref, "doc_id", "text", out, ckpt)
    wall = t.s
    res = spark.read.parquet(out)
    decided = res.count()
    dup = res.filter(F.col("exact_dup") | F.col("near_dup")).count()
    return {
        "wall_s": wall,
        "batches": n_copies,
        "per_batch_s": round(wall / n_copies, 2),
        "rows_decided": decided,
        "dup_decisions": dup,
        "live_pins_after": len(_LIVE_PINS),
    }


KERNELS = {
    "windowed_counts": kernel_windowed,
    "late_data_phased": kernel_late_phased,
    "interval_join": kernel_interval,
    "cms_heavy_hitters": kernel_cms,
    "kmv_distinct": kernel_kmv,
    "stream_dedup_prepared_ref": kernel_stream_dedup,
}


def main() -> None:
    # numeric argv entries are scales, the words after out_json select a
    # kernel subset (subset-run JSONs merge into the committed artifact,
    # same convention as tools/scalebench.py)
    words, scales = h.cli([1, 10, 100])
    only = set(words[1:])
    spark = h.spark("streaming-scalebench")

    report: dict = {"scales": {}, "load_1m_at_start": round(os.getloadavg()[0], 2)}
    for n in scales:
        in_dir = build(spark, n)
        work = f"{ROOT}/work_{n}x"
        if os.path.isdir(work):
            shutil.rmtree(work)
        os.makedirs(work)
        entry = {}
        for name, fn in KERNELS.items():
            if only and name not in only:
                continue
            entry[name] = fn(spark, in_dir, work)
            print(f"  {n}x {name}: {entry[name]}", file=sys.stderr)
        report["scales"][f"{n}x"] = entry

    h.write_report("streaming_scalebench", report, words[0] if words else None)


if __name__ == "__main__":
    main()
