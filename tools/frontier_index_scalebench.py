"""Scale measurement for the persisted crawled-URL index (round-10):
day-2 crawl-loop cost must be ∝ the arriving wave, not the corpus.

Corpus tiers: 60k / 600k / 6M crawled canonical URLs persisted once
(``write_crawled_urls``); against each tier a FIXED 20k-URL wave (half
overlapping the corpus, half new) is probed (``frontier_against_
crawled`` — one anti-join; the index side is a single-column columnar
scan) and extended (``extend_crawled_urls`` — anti-join + append of
the fresh half). Probe/extend growth across 100× corpus growth should
be bounded by the index COLUMN SCAN, not by rewrite (the index is
never rewritten); decisions are asserted exactly at every tier.

Sets the ``frontier_index`` section of CRAWL_SCALEBENCH.json when run
with --merge, else writes it to /tmp/frontier_index_scalebench.json.

The committed 6M-URL tier was measured at the engine's old 12g default
heap; set SPARK_DRIVER_MEM=12g to reproduce it.

Usage: python tools/frontier_index_scalebench.py [--merge]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

IDX_ROOT = "/tmp/vgs_frontier_idx"
WAVE = 20_000


def main() -> None:
    from pyspark.sql import functions as F

    from vmware_graph_spark.operators.crawl import (
        extend_crawled_urls,
        frontier_against_crawled,
        write_crawled_urls,
    )

    spark = h.spark("frontier-index-scalebench")

    def urls(lo: int, hi: int):
        return spark.range(lo, hi).select(
            F.concat(
                F.lit("http://www.site"), (F.col("id") % 97).cast("string"),
                F.lit(".example.com/p/"), F.col("id").cast("string"),
            ).alias("canon")
        )

    report = {"wave_urls": WAVE, "tiers": {}}
    for corpus in (60_000, 600_000, 6_000_000):
        idx = os.path.join(IDX_ROOT, str(corpus))
        shutil.rmtree(idx, ignore_errors=True)

        with h.timed() as build:
            write_crawled_urls(urls(0, corpus), idx)

        # fixed wave: WAVE/2 already crawled + WAVE/2 genuinely new
        wave = urls(corpus - WAVE // 2, corpus + WAVE // 2)

        with h.timed() as probe:
            n_new = frontier_against_crawled(spark, idx, wave).count()
        assert n_new == WAVE // 2, (corpus, n_new)

        with h.timed() as extend:
            extend_crawled_urls(spark, wave, idx)

        # post-extend: same wave now fully crawled; index grew by the
        # fresh half only (idempotent overlap handling at scale)
        assert frontier_against_crawled(spark, idx, wave).count() == 0
        n_rows = spark.read.parquet(f"{idx}/urls.parquet").count()
        assert n_rows == corpus + WAVE // 2, (corpus, n_rows)

        h.progress(report["tiers"], str(corpus), {
            "corpus_urls": corpus,
            "build_s": build.s,
            "probe_s": probe.s,
            "extend_s": extend.s,
            "wave_new_found": n_new,
            "rows_after_extend": n_rows,
        })
        shutil.rmtree(idx, ignore_errors=True)

    h.write_report("frontier_index_scalebench", {"frontier_index": report},
                   artifact="CRAWL_SCALEBENCH.json")


if __name__ == "__main__":
    main()
