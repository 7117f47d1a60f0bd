"""Flag-agreement of the NN-Descent-routed label-noise audit vs the
exact brute audit, at an arbitrary fixture dir (default: the 10x
scalebench corpus in /tmp/vgs_scale, built by `tools/scalebench.py 10`).

Committed result (SCALEBENCH_RECALL.json): at 10x (20k vectors) flag
agreement at the discriminative 0.7 threshold is 1.0000 with mean
|disagreement delta| 0.0176, while the routed path runs 21x faster
than brute (18.2 s vs 381.1 s) - the approximation grows MORE faithful
as neighbor statistics stabilize, exactly where brute becomes
infeasible. The sf0.01 agreement (0.99 / 0.049) is machine-checked on
every selfcheck run via the tools/selfcheck.py BOUND.

Usage: python tools/knn_agreement.py [sf_dir] [out_json]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/vgs_scale"

    from vmware_graph_spark.queries import QUERIES

    spark = h.spark("knn-agreement")
    with h.timed(1) as t_brute:
        brute = QUERIES["knn_label_noise_audit"](spark, sf_dir).toPandas()
    with h.timed(1) as t_appx:
        appx = QUERIES["knn_label_noise_audit_nn_descent"](spark, sf_dir).toPandas()
    m = appx.merge(brute, on="vec_id", suffixes=("_a", "_e"))
    out = {
        "sf_dir": sf_dir,
        "n_vectors": len(m),
        "brute_s": t_brute.s,
        "nn_descent_s": t_appx.s,
        "flag_agreement_thr0.7": round(
            float(((m.disagreement_a >= 0.7) == (m.disagreement_e >= 0.7)).mean()), 4
        ),
        "mean_abs_delta": round(
            float((m.disagreement_a - m.disagreement_e).abs().mean()), 4
        ),
    }
    h.write_report("knn_agreement", out, *sys.argv[2:3])


if __name__ == "__main__":
    main()
