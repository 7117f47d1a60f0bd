"""Recall / parity evidence for the round-9 scale-tier kernel twins.

Round-8 VERDICT #1 asked for the trade-off each re-parameterization
makes to be QUANTIFIED, not asserted. This tool measures it at the
oracle scales (sf0.01 + sf0.1):

- ``simhash_pairs_documents_scale_tier`` (3x16-bit pieces, radius 2)
  vs the exact tier (12x4-bit, radius 10): the scale tier is
  pigeonhole-EXACT within its radius — so the checks are (a)
  within-radius completeness: its pair set must EQUAL the exact
  tier's pairs at hamming <= 2 (a hard invariant, reported as a
  boolean), and (b) coverage of the radius-10 set: the fraction of
  hamming<=10 pairs the tighter radius keeps (the trade-off number).

- ``behavior_similarity_users_capped`` (max_df=100) vs the uncapped
  twin: at both oracle scales no bigram's document frequency exceeds
  the cap, so the capped output must be VALUE-IDENTICAL (parity
  boolean + row counts). The cap only engages at 10x+, where the
  uncapped stream is the measured scale-killer (SCALEBENCH_100x.json).

Usage: python tools/recall_weak_kernels.py [out_json]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402


def _pairs_key(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def main() -> None:
    from vmware_graph_spark.queries import QUERIES

    spark = h.spark("recall-weak-kernels")

    report: dict = {}
    for sf in ("0.01", "0.1"):
        sf_dir = f"/root/testdata/sf{sf}"

        exact = QUERIES["simhash_pairs_documents"](spark, sf_dir).collect()
        scale = _pairs_key(QUERIES["simhash_pairs_documents_scale_tier"](spark, sf_dir))
        exact_all = {(r["id_a"], r["id_b"]) for r in exact}
        exact_r2 = {(r["id_a"], r["id_b"]) for r in exact if r["hamming"] <= 2}
        report[f"simhash_scale_tier_sf{sf}"] = {
            "pairs_radius10_exact_tier": len(exact_all),
            "pairs_radius2_scale_tier": len(scale),
            "within_radius_complete": scale == exact_r2,
            "coverage_of_radius10_set": round(len(scale) / len(exact_all), 4)
            if exact_all
            else None,
        }

        unc = QUERIES["behavior_similarity_users"](spark, sf_dir).collect()
        cap = QUERIES["behavior_similarity_users_capped"](spark, sf_dir).collect()
        key = lambda rows: {(r["id_a"], r["id_b"], r["jaccard"]) for r in rows}
        report[f"behavior_capped_sf{sf}"] = {
            "pairs_uncapped": len(unc),
            "pairs_capped": len(cap),
            "value_identical": key(unc) == key(cap),
        }

    h.write_report("recall_weak_kernels", report, *sys.argv[1:2])


if __name__ == "__main__":
    main()
