"""Persisted-dedup-index scale measurement (round-8 VERDICT Next #6):
the day-2 cost claims — extend cost follows the BATCH, probe cost
follows the BATCH plus a bucket-bound slice of the index — were
test-pinned at sf0.01 but never measured at the scale they matter.

Protocol: build the index from the sf0.1 documents (5k docs), then
grow it with perturbed-copy corpora to ~10x (50k) and ~100x (500k)
docs. At EVERY size tier, measure with the SAME fixed workloads:

- ``extend_fixed_batch_s``: extend_dedup_index of a FIXED 1k-doc batch
  into the current index (the day-2 append). Claim: ~flat vs size
  (the batch anti-join scans only the ``sizes`` table, appends are
  batch-sized).
- ``probe_fixed_batch_s``: dedup_against_index of a FIXED 1k-doc probe
  set, half near-dups of indexed docs (every 10th token perturbed —
  above the 0.5 verify threshold) and half novel. Claim: grows with
  the bucket-bound candidate slice, not the corpus (sub-linear).
- ``probe_decisions``: the decision histogram, so tiers are verified
  to exercise the same exact/near/kept mix.
- ``compact_s``: compact_dedup_index — a full rewrite, ~linear in
  index size BY DESIGN (stated in its docstring); measured so the
  claim has a number.
- ``index_mb``: on-disk footprint after the tier's growth.

The committed 100x tier was measured at the engine's old 12g default
heap; set SPARK_DRIVER_MEM=12g to reproduce it.

Usage: python tools/index_scalebench.py [out_json]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

BASE = "/root/testdata/sf0.1"
IDX = "/tmp/vgs_dedup_index"


def _perturbed_copies(docs, n_from: int, n_to: int, *, every: int, tag: str):
    """Copies ``n_from``..``n_to-1`` of the corpus, every ``every``-th
    token suffixed per copy — same perturbation family as
    tools/scalebench.build_scaled (distinct content, same shape)."""
    from pyspark.sql import functions as F

    def suffixed(i):
        return F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda x, j: F.when(
                    j % every == 0, F.concat(x, F.lit(f"~{tag}{i}"))
                ).otherwise(x),
            ),
            " ",
        )

    return h.shifted_copies(
        docs, range(n_from, n_to), doc_id=h.shift("doc_id", 1_000_000), text=suffixed
    )


def measure_tier(spark, docs, tier: str, copy_idx: int) -> dict:
    from pyspark.sql import functions as F

    from vmware_graph_spark.operators.dedup import (
        compact_dedup_index,
        dedup_against_index,
        extend_dedup_index,
    )
    from vmware_graph_spark.operators.pin import release_pins

    # fixed 1k-doc EXTEND batch — novel text, and a tier-unique id
    # range (``copy_idx``) so a later tier's batch isn't silently
    # anti-joined away as already-committed ids
    ext = (
        _perturbed_copies(
            docs.limit(1000), copy_idx, copy_idx + 1, every=1, tag=f"x{tier}"
        )
        .localCheckpoint(eager=True)
    )
    with h.timed() as extend:
        extend_dedup_index(ext, IDX, "doc_id", "text")
    release_pins()

    # fixed 1k-doc PROBE batch: 500 near-dups (every 10th token
    # perturbed -> trigram Jaccard ~0.54, above the 0.5 verify bar) +
    # 500 novel docs; same construction every tier
    near = _perturbed_copies(
        docs.limit(500), 800, 801, every=10, tag="p"
    ).withColumn("doc_id", F.col("doc_id") + 50_000_000)
    novel = _perturbed_copies(
        docs.filter(F.col("doc_id") % 7 == 3).limit(500), 801, 802, every=1, tag="q"
    ).withColumn("doc_id", F.col("doc_id") + 60_000_000)
    probe = near.unionByName(novel).localCheckpoint(eager=True)
    with h.timed() as probe_t:
        decisions = (
            dedup_against_index(probe, spark, IDX, "doc_id", "text")
            .select(
                F.when(F.col("exact_dup"), "exact_dup")
                .when(F.col("near_dup"), "near_dup")
                .otherwise("kept")
                .alias("decision")
            )
            .groupBy("decision")
            .count()
            .collect()
        )
    release_pins()

    with h.timed() as compact:
        compact_dedup_index(spark, IDX)

    sizes = spark.read.parquet(f"{IDX}/sizes.parquet").select("id").distinct().count()
    return {
        "indexed_docs": sizes,
        "index_mb": round(h.du_bytes(IDX) / 1e6, 1),
        "extend_fixed_batch_s": extend.s,
        "probe_fixed_batch_s": probe_t.s,
        "probe_decisions": {r["decision"]: r["count"] for r in decisions},
        "compact_s": compact.s,
    }


def main() -> None:
    words, _tiers = h.cli()
    spark = h.spark("index-scalebench")

    from vmware_graph_spark.operators.dedup import (
        extend_dedup_index,
        write_dedup_index,
    )
    from vmware_graph_spark.operators.pin import release_pins

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    if os.path.isdir(IDX):
        shutil.rmtree(IDX)

    report: dict = {"load_1m_at_start": round(os.getloadavg()[0], 2), "tiers": {}}

    with h.timed(1) as t:
        write_dedup_index(docs, IDX, "doc_id", "text")
    report["build_1x_s"] = t.s
    report["tiers"]["1x"] = measure_tier(spark, docs, "1", 900)

    with h.timed(1) as t:
        extend_dedup_index(
            _perturbed_copies(docs, 1, 10, every=3, tag="c"), IDX, "doc_id", "text"
        )
        release_pins()
    report["grow_to_10x_s"] = t.s
    report["tiers"]["10x"] = measure_tier(spark, docs, "10", 910)

    with h.timed(1) as t:
        for lo in range(10, 100, 30):  # three bulk extends, bounded plans
            extend_dedup_index(
                _perturbed_copies(docs, lo, min(lo + 30, 100), every=3, tag="c"),
                IDX,
                "doc_id",
                "text",
            )
            release_pins()
    report["grow_to_100x_s"] = t.s
    report["tiers"]["100x"] = measure_tier(spark, docs, "100", 920)
    h.write_report("index_scalebench", report, words[0] if words else None)


if __name__ == "__main__":
    main()
