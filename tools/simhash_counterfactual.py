"""Attribute the scale-tier simhash stream's growth: data vs params.

The 3x16-bit scale tier's counted piece-bucket pair stream grows
super-linearly on the standard scalebench corpus (487k at sf0.1 ->
7.7M at 10x -> 476M at 100x). Hypothesis: that growth is REAL
signature-space near-dup density, not bucket saturation — the
scalebench document perturbation suffixes every 3rd token, so the
copies of one base document keep ~2/3 of their tokens and land within
a few Hamming bits of each other: every base document becomes an
n_copies-sized signature FAMILY, and family pair count grows as
C(n_copies, 2) by construction.

This tool builds the counter-factual: the SAME 100x corpus size where
EVERY token carries the per-copy suffix, so copies share no tokens and
signatures are independent. If the 3x16 stream collapses toward the
uniform floor (3 pieces x 65,536 buckets), the growth on the standard
corpus is attributable to the data's duplicate structure — which a
dedup kernel is SUPPOSED to surface — and not to the parameterization
(the committed 12x4-bit tier saturates its 16 buckets per piece on ANY
corpus, which is why it was weak).

Usage: python tools/simhash_counterfactual.py [n_copies] [out_json]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

BASE = "/root/testdata/sf0.1"
CF_DIR = "/tmp/vgs_simhash_cf"


def build_distinct_corpus(spark, n_copies: int) -> None:
    from pyspark.sql import functions as F

    def suffixed(i):  # EVERY token of copy i > 0
        if i == 0:
            return F.col("text")
        return F.array_join(
            F.transform(F.split("text", " "), lambda x: F.concat(x, F.lit(f"~c{i}"))), " "
        )

    shutil.rmtree(CF_DIR, ignore_errors=True)
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    h.shifted_copies(
        docs, range(n_copies), doc_id=h.shift("doc_id", 1_000_000), text=suffixed
    ).write.mode("overwrite").parquet(f"{CF_DIR}/documents.parquet")


def main() -> None:
    words, tiers = h.cli([100])
    n_copies = tiers[0]

    from tools.scalebench import _simhash_piece_stream

    spark = h.spark("simhash-counterfactual")

    build_distinct_corpus(spark, n_copies)
    n_docs = spark.read.parquet(f"{CF_DIR}/documents.parquet").count()
    stream = _simhash_piece_stream(spark, CF_DIR, pieces=3, width=16)
    base_stream = _simhash_piece_stream(spark, BASE, pieces=3, width=16)
    # uniform floor: n docs into 65,536 buckets per piece, 3 pieces
    per_bucket = n_docs / 65_536
    floor = int(3 * 65_536 * (per_bucket * (per_bucket - 1) / 2))
    report = {
        "n_copies": n_copies,
        "n_docs": n_docs,
        "base_stream_sf0.1": base_stream,
        "distinct_corpus_stream": stream,
        "uniform_floor": floor,
        "stream_vs_linear_scaleup": round(stream / (base_stream * n_copies), 3),
    }
    h.write_report("simhash_cf", report, words[0] if words else None)


if __name__ == "__main__":
    main()
