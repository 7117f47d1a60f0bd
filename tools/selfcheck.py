"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column
names, and (column-name-sorted, row-sorted, stringified) values —
stricter than a hash match, so anything green here should be green in
CORRECTNESS_r{N}.json.

Usage: python tools/selfcheck.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# ---------------------------------------------------------------------------
# Machine-checked BOUNDS for the oracle-less queries (round-6 VERDICT #3):
# sketches/float-fixpoints can't hash-match a SQL twin by design, but each
# one has an exact reference it must stay within a documented tolerance of.
# The transcript prints BOUND-PASS/FAIL instead of a blind "no oracle";
# the driver's no_oracle rows remain, this closes the in-tree blind spot.
# ---------------------------------------------------------------------------


def _bound_approx_distinct(sdf, con, sqls):
    """approx_count_distinct (HLL, rsd 0.05) within 15% of the exact
    per-type distinct (same bound as tests/test_sketch.py:25)."""
    ref = con.execute(
        "SELECT event_type, count(DISTINCT user_id) AS exact_n "
        "FROM events GROUP BY event_type"
    ).fetchdf()
    m = sdf.merge(ref, on="event_type", how="outer")
    if len(m) != len(ref) or m[["approx_users", "exact_n"]].isna().any().any():
        return "group sets differ from exact reference"
    bad = m[(m["approx_users"] - m["exact_n"]).abs() > 0.15 * m["exact_n"]]
    if not bad.empty:
        return f"HLL rel err > 15%: {bad.to_dict('records')}"
    return None


def _bound_approx_percentile(sdf, con, sqls):
    """percentile_approx(accuracy=10000) within 5% of the per-group
    value spread of the exact discrete quantile (tests/test_sketch.py:40)."""
    ref = con.execute(
        "SELECT event_type, quantile_disc(value, 0.50) AS e50, "
        "quantile_disc(value, 0.95) AS e95, "
        "max(value) - min(value) AS spread "
        "FROM events WHERE value IS NOT NULL GROUP BY event_type"
    ).fetchdf()
    m = sdf.merge(ref, on="event_type", how="outer")
    if len(m) != len(ref) or m[["p50", "e50"]].isna().any().any():
        return "group sets differ from exact reference"
    bad = m[
        ((m["p50"] - m["e50"]).abs() > 0.05 * m["spread"])
        | ((m["p95"] - m["e95"]).abs() > 0.05 * m["spread"])
    ]
    if not bad.empty:
        return f"percentile err > 5% of spread: {bad.to_dict('records')}"
    return None


def _bound_pagerank_float(sdf, con, sqls):
    """Float PageRank within L-inf 1e-3 of the hash-verified fixed-point
    twin's oracle (tests/test_snapshot_algos.py:136 tolerance)."""
    ref = con.execute(sqls["pagerank_fixedpoint_customer_nation"]).fetchdf()
    m = sdf.merge(ref, on="id", how="outer")
    if len(m) != len(ref) or m[["rank", "rank_micros"]].isna().any().any():
        return "vertex sets differ from fixed-point twin"
    err = (m["rank"] - m["rank_micros"] / 1e6).abs()
    if (err >= 1e-3).any():
        worst = m.loc[err.idxmax()]
        return f"L-inf {err.max():.2e} >= 1e-3 (worst: {worst.to_dict()})"
    return None


def _bound_knn_noise_nn_descent(sdf, con, sqls):
    """NN-Descent-routed label-noise audit vs the EXACT brute audit
    (knn_label_noise_audit's quadratic oracle): every point audited,
    flag agreement at the discriminative 0.7 threshold >= 0.95, and
    mean |disagreement delta| <= 0.10 (measured at sf0.01: agreement
    0.99, mean delta 0.049 — the bound leaves approximation headroom
    without admitting a broken neighbor graph)."""
    ref = con.execute(sqls["knn_label_noise_audit"]).fetchdf()
    m = sdf.merge(ref, on="vec_id", how="outer", suffixes=("_a", "_e"))
    if len(m) != len(ref) or m[["disagreement_a", "disagreement_e"]].isna().any().any():
        return "audited point sets differ from exact reference"
    agree = ((m["disagreement_a"] >= 0.7) == (m["disagreement_e"] >= 0.7)).mean()
    mean_delta = (m["disagreement_a"] - m["disagreement_e"]).abs().mean()
    if agree < 0.95:
        return f"flag agreement {agree:.4f} < 0.95 at thr=0.7"
    if mean_delta > 0.10:
        return f"mean |disagreement delta| {mean_delta:.4f} > 0.10"
    return None


BOUNDS = {
    "approx_distinct_users_per_type": _bound_approx_distinct,
    "approx_percentile_value": _bound_approx_percentile,
    "pagerank_customer_nation": _bound_pagerank_float,
    "knn_label_noise_audit_nn_descent": _bound_knn_noise_nn_descent,
}


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    spark = h.spark("check-queries")
    qs, sqls = entrymod.queries(), entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_bound = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in sqls:
            if name in BOUNDS:
                try:
                    err = BOUNDS[name](sdf, con, sqls)
                except Exception as e:  # reference/bound machinery error
                    err = f"bound check error: {e}"
                if err is None:
                    print(
                        f"BOUND-PASS {name}: {len(sdf)} rows within tolerance "
                        f"of exact reference [{time.time()-t0:.1f}s]"
                    )
                    n_bound += 1
                else:
                    print(f"FAIL {name}: bound: {err}")
                    n_fail += 1
                continue
            print(f"ROWS {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(sqls[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        s, o = norm(sdf), norm(odf)
        if list(s.columns) != list(o.columns):
            print(f"FAIL {name}: columns {list(s.columns)} vs {list(o.columns)}")
            n_fail += 1
            continue
        if len(s) != len(o):
            print(f"FAIL {name}: rows {len(s)} vs {len(o)}")
            n_fail += 1
            continue
        if not s.equals(o):
            neq = (s != o).any(axis=1)
            bad = s[neq].head(3)
            bado = o[neq].head(3)
            print(f"FAIL {name}: {int(neq.sum())}/{len(s)} rows differ")
            print("  spark :", bad.to_dict("records"))
            print("  oracle:", bado.to_dict("records"))
            n_fail += 1
            continue
        print(f"PASS {name}: {len(s)} rows [{time.time()-t0:.1f}s]")
        n_pass += 1

    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_bound} bound-pass, "
        f"{n_rows_only} rows-only"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
