"""Scale measurement for the persisted ANN index (round-9 addition):
build + fixed-batch probe at 1x/10x/100x corpus size.

Corpus: sf0.1 embeddings (2,000 × 64d) replicated in-engine with
tenant-shifted vec_ids (labels unchanged — a FIXED codebook, so
growing the corpus grows the inverted LISTS, which is the honest IVF
trade: probe cost within the assigned list is linear in list size
until the codebook is re-trained with more centroids).

Per tier: index build wall (train + assign + cluster-partitioned
write), fixed 100-query probe wall reading ONLY the index, probe row
count (100 × k), and a determinism check (second probe identical).

The committed 100× tier was measured at the engine's old 12g default
heap; set SPARK_DRIVER_MEM=12g to reproduce it.

Usage: python tools/ann_index_scalebench.py [out_json] [copies...]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

SRC = "/root/testdata/sf0.1/embeddings.parquet"
ROOT = "/tmp/vgs_ann_index_sb"


def main() -> None:
    words, copies = h.cli([1, 10, 100])

    from pyspark.sql import functions as F

    from vmware_graph_spark.operators.similarity import (
        ann_topk_against_index,
        write_ann_index,
    )

    spark = h.spark("ann-index-scalebench")

    base = spark.read.parquet(SRC)
    queries = base.filter(F.col("vec_id") % 20 == 0).select(
        "vec_id", "embedding"
    )
    n_q = queries.count()

    report: dict = {"load_1m_at_start": round(os.getloadavg()[0], 2), "copies": {}}
    for n in copies:
        corpus = (
            base.select(
                "vec_id", "embedding", "label",
                F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("c"),
            )
            .select(
                (F.col("vec_id") + F.col("c") * 1_000_000).alias("vec_id"),
                "embedding",
                "label",
            )
        )
        n_vec = corpus.count()
        idx = os.path.join(ROOT, f"idx_{n}")
        shutil.rmtree(idx, ignore_errors=True)
        os.makedirs(idx)

        with h.timed() as build:
            write_ann_index(corpus, idx, "vec_id", "embedding", "label")
        with h.timed() as probe:
            out1 = ann_topk_against_index(
                spark, idx, queries, "vec_id", "embedding", k=5
            ).collect()

        out2 = ann_topk_against_index(
            spark, idx, queries, "vec_id", "embedding", k=5
        ).collect()
        same = {(r.qid, r.rank, r.cid) for r in out1} == {
            (r.qid, r.rank, r.cid) for r in out2
        }

        entry = {
            "corpus_vectors": n_vec,
            "queries": n_q,
            "build_s": build.s,
            "probe_s": probe.s,
            "probe_rows": len(out1),
            "probe_deterministic": bool(same),
        }
        h.progress(report["copies"], f"{n}", entry)

    h.write_report("ann_index_scalebench", report, words[0] if words else None)


if __name__ == "__main__":
    main()
