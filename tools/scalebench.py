"""Scale-growth measurement: ~10× the sf0.1 fixtures, same queries.

The driver bench (bench.py) times the headline set at one scale factor;
this tool is the evidence behind the 100 TB design notes — it builds a
~sf1 dataset (10 key-shifted, content-perturbed copies of the sf0.1
fact tables; dimensions unchanged) in /tmp and times a representative
query slice at BOTH scales, reporting the runtime growth ratio per
query. A shape that is linear-in-rows should grow ≈10× or less (fixed
job overhead amortizes); anything super-linear is a design bug the
local bench can't see.

Perturbations keep workload shape honest:
- documents: every 3rd token gets a per-copy suffix, so copies are NOT
  near-duplicates of each other (Jaccard ≈ 0 across copies) and the
  LSH pair structure scales like a real corpus, not like 10 identical
  mirrors (which would quadratically inflate every band bucket).
- embeddings: small per-copy, per-dim offset — copies are distinct
  vectors with the same distribution.
- events: user_id shifts per copy (10× users, same per-user density —
  the growth mode a real event stream has).
- orders/lineitem: orderkey-shifted copies over the SAME customers
  (10× orders per customer).

The committed 100× tier was measured at the engine's old 12g default
heap; set SPARK_DRIVER_MEM=12g to reproduce it.

Usage: python tools/scalebench.py [n_copies] [out_json [query ...]] [--work-only]
"""

from __future__ import annotations

import os
import shutil
import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402
from vmware_graph_spark.sources.tables import load_table  # noqa: E402

BASE = "/root/testdata/sf0.1"
SCALED = "/tmp/vgs_scale"

QUERIES_TO_TIME = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "window_topk_orders_per_customer",
    "exact_dedup_documents",
    "minhash_lsh_pairs_documents",
    "simhash_documents",
    "cosine_topk_embeddings",
    "asof_join_clicks_views",
    "sessionize_user_events",
    "connected_components_bipartite",
    "kmeans_clusters_embeddings",
    "dup_span_removal_documents",
    "random_walks_parts",
    "embedding_covariance_matrix",
    "record_linkage_customer_supplier",
    "bloom_prune_join_orders",
    "shuffle_skew_report",
    # round-3 additions: the de-bottlenecked global-window rewrites and
    # the new corpus ops, measured at both scales like everything else
    "jaccard_pairs_prefix_filtered",
    "zipf_slope_token_frequencies",
    "equidepth_histogram_event_values",
    "bm25_topk_documents",
    "nn_descent_knn_graph",
    # round-3 continuation: new linear-scan corpus ops
    "gazetteer_phrase_tag_totals",
    "bleu2_adjacent_docs",
    "modularity_trade_nation_partition",
    "token_budget_selection_by_lang",
    # round-4: split/decontamination/quality family
    "leakage_safe_split_documents",
    "decontaminate_against_heldout",
    "token_entropy_quality",
    "length_bucket_packing_plan",
    # round-7: the distributed exact-rank family representatives
    "uplift_deciles",
    "conversion_latency_percentiles",
    "matched_pairs_att",
    # round-8: the similarity-family coverage gaps (round-7 VERDICT #4).
    # simhash_pairs and knn_label_noise are EXCLUDED from 100× timing
    # runs by the caller: their counted work drivers (piece-bucket pair
    # stream / brute-force pairs) grow ~quadratically at fixed
    # parameters — the work metric records that growth cheaply, which
    # is the evidence; executing the join at 100× is the thing the
    # number proves you must not do (re-parameterize: wider pieces /
    # NN-Descent graph).
    "simhash_pairs_documents",
    "containment_pairs_excerpts",
    "behavior_similarity_users",
    "gazetteer_phrase_tag_totals",
    "knn_label_noise_audit",
    # round-9: the scale-safe parameterizations of the two kernels the
    # round-8 measurements proved quadratic (round-8 VERDICT #1), plus
    # the NN-Descent-routed audit composition (#3). Unlike their exact
    # twins above, these three EXECUTE at 100× — that is the point.
    "simhash_pairs_documents_scale_tier",
    "behavior_similarity_users_capped",
    "knn_label_noise_audit_nn_descent",
]


# ---------------------------------------------------------------------------
# Measured WORK DRIVERS (round-6 VERDICT #1: "growth tracks candidates"
# was asserted, not measured). For each kernel whose runtime is linear in
# something OTHER than input rows, count that something at every scale so
# a super-linear runtime ratio can be attributed to a measured quantity.
# ---------------------------------------------------------------------------


def _w_minhash(spark, sf_dir):
    from vmware_graph_spark.operators.dedup import minhash_lsh_candidates

    d = load_table(spark, sf_dir, "documents")
    return {
        "lsh_candidate_pairs": minhash_lsh_candidates(
            d, "doc_id", "text", n=3, num_hashes=8, bands=4
        ).count()
    }


def _w_prefix_jaccard(spark, sf_dir):
    from vmware_graph_spark.operators.dedup import jaccard_pairs_prefix

    d = load_table(spark, sf_dir, "documents")
    return {
        "prefix_candidate_pairs": jaccard_pairs_prefix(
            d, "doc_id", "text", n=3, threshold=0.4, candidates_only=True
        ).count()
    }


def _w_decontaminate(spark, sf_dir):
    from vmware_graph_spark.functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents")
    g = d.select("source", F.explode(word_shingles("text", 5)).alias("gram"))
    heldout = g.filter(F.col("source") == "src0").select("gram").distinct()
    return {
        "gram_rows": g.count(),
        "heldout_grams": heldout.count(),
        "train_gram_hits": g.filter(F.col("source") != "src0")
        .join(F.broadcast(heldout), "gram", "left_semi")
        .count(),
    }


def _w_bleu2(spark, sf_dir):
    from vmware_graph_spark.functions.text import n_tokens

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source", "lang").orderBy("doc_id")
    pairs = d.select("doc_id", F.lag("doc_id").over(w).alias("ref_id")).filter(
        F.col("ref_id").isNotNull()
    )
    toks = d.select(n_tokens("text").alias("nt")).agg(F.sum("nt")).collect()[0][0]
    return {"pairs": pairs.count(), "token_rows": int(toks)}


def _w_dup_span(spark, sf_dir):
    from vmware_graph_spark.queries_ext2 import _SPAN_K as K

    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("toks"),
        )
        .withColumn("n", F.size("toks"))
    )
    grams = d.filter(F.col("n") >= K).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, n - {K}),"
                f" i -> md5(concat_ws(' ', slice(toks, i + 1, {K}))))"
            )
        ).alias("pos", "g"),
    )
    dupg = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("g")
    )
    return {"gram_rows": grams.count(), "dup_span_hits": grams.join(dupg, "g").count()}


def _bucket_pair_stream(df, keycols) -> int:
    """Candidate-JOIN-stream size for an inverted-index/bucket self-join:
    Σ over buckets of C(n,2). Computed from the bucket histogram — no
    pair materialization, so it stays cheap even where the join itself
    would be infeasible (that infeasibility is exactly what the number
    is recorded to show)."""
    row = (
        df.groupBy(*keycols)
        .count()
        .agg(F.sum(F.expr("count * (count - 1) / 2")).cast("bigint"))
        .collect()[0][0]
    )
    return int(row or 0)


def _simhash_piece_stream(spark, sf_dir, *, pieces: int, width: int) -> int:
    from vmware_graph_spark.operators.dedup import simhash

    d = load_table(spark, sf_dir, "documents")
    sig = simhash(d, "doc_id", "text", bits=48)
    tab = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("piece"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("value"),
                    )
                    for i in range(pieces)
                ]
            )
        ).alias("p"),
    ).select(F.col("p.piece").alias("piece"), F.col("p.value").alias("value"))
    return _bucket_pair_stream(tab, ["piece", "value"])


def _w_simhash_pairs(spark, sf_dir):
    # the committed exact tier's pigeonhole split (12×4-bit, radius 10)
    return {
        "piece_bucket_pair_stream": _simhash_piece_stream(
            spark, sf_dir, pieces=12, width=4
        )
    }


def _w_simhash_scale_tier(spark, sf_dir):
    # the scale tier's split (3×16-bit, radius 2): 65,536 buckets per
    # piece, so the stream tracks near-dup density, not saturation
    return {
        "piece_bucket_pair_stream": _simhash_piece_stream(
            spark, sf_dir, pieces=3, width=16
        )
    }


def _w_containment(spark, sf_dir):
    from vmware_graph_spark.operators.dedup import _shingle_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    corpus = d.select(F.col("doc_id").alias("id"), "text").unionByName(
        d.select(
            (F.col("doc_id") + 10000).alias("id"),
            F.expr("substr(text, 1, cast(length(text) / 2 as int))").alias("text"),
        )
    )
    sh = _shingle_table(corpus, "id", "text", 3)
    return {"shared_shingle_pair_stream": _bucket_pair_stream(sh, ["shingle"])}


def _behavior_bigrams(spark, sf_dir):
    """Per-user event-type bigram SET (every 20th user): the shingle
    index the Jaccard work rides."""
    from vmware_graph_spark.operators.dedup import _shingle_table

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
    seq = e.groupBy(F.col("user_id").alias("id")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            " ",
        ).alias("behavior")
    )
    return seq, _shingle_table(seq, "id", "behavior", 2).distinct()


def _w_behavior(spark, sf_dir):
    _seq, sh = _behavior_bigrams(spark, sf_dir)
    return {"shared_bigram_pair_stream": _bucket_pair_stream(sh, ["shingle"])}


def _w_behavior_capped(spark, sf_dir):
    from vmware_graph_spark.queries import _BEHAVIOR_MAX_DF

    seq, sh = _behavior_bigrams(spark, sf_dir)
    keep = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") <= _BEHAVIOR_MAX_DF)
        .select("shingle")
    )
    capped = sh.join(keep, "shingle", "left_semi")
    return {
        "capped_bigram_pair_stream": _bucket_pair_stream(capped, ["shingle"]),
        "n_users": seq.count(),
    }


def _w_knn_noise_nn_descent(spark, sf_dir):
    # the audit is one linear shuffle over the k-NN graph's edges; the
    # graph build's per-round candidate volume is O(n·k²) by
    # construction (operators/similarity.py) — record the edge count
    # (= n·k when every node fills its list) as the linear work driver
    from vmware_graph_spark.operators.similarity import knn_graph_nn_descent

    e = load_table(spark, sf_dir, "embeddings")
    g = knn_graph_nn_descent(
        e, "vec_id", "embedding", dim=64, k=10, iters=2, views=3, seed=7
    )
    return {"graph_edges": g.count(), "n_vectors": e.count()}


def _w_gazetteer(spark, sf_dir):
    from vmware_graph_spark.functions.text import tokens
    from vmware_graph_spark.queries_ext18 import _GAZETTEER_2, _GAZETTEER_3

    d = load_table(spark, sf_dir, "documents").select(tokens("text").alias("__t"))
    t = F.col("__t")
    cands = []
    for n, ps in ((2, _GAZETTEER_2), (3, _GAZETTEER_3)):
        heads = sorted({p.split()[0] for p in ps})
        pos = F.when(
            F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        cands.append(
            F.size(F.filter(pos, lambda i: F.element_at(t, i).isin(heads)))
        )
    row = d.agg(
        F.sum(cands[0] + cands[1]).cast("bigint").alias("cand"),
    ).collect()[0]
    return {"head_token_candidate_positions": int(row["cand"] or 0)}


def _w_knn_noise(spark, sf_dir):
    n = load_table(spark, sf_dir, "embeddings").count()
    return {"n_vectors": n, "brute_force_pairs": n * (n - 1) // 2}


WORK_METRICS = {
    "minhash_lsh_pairs_documents": _w_minhash,
    "near_dedup_clusters": _w_minhash,  # same pair graph feeds the CC
    "jaccard_pairs_prefix_filtered": _w_prefix_jaccard,
    "decontaminate_against_heldout": _w_decontaminate,
    "bleu2_adjacent_docs": _w_bleu2,
    "dup_span_removal_documents": _w_dup_span,
    # round-8: the five coverage-gap kernels (round-7 VERDICT #4)
    "simhash_pairs_documents": _w_simhash_pairs,
    "containment_pairs_excerpts": _w_containment,
    "behavior_similarity_users": _w_behavior,
    "gazetteer_phrase_tag_totals": _w_gazetteer,
    "knn_label_noise_audit": _w_knn_noise,
    # round-9: the scale-safe re-parameterizations + the NN-Descent
    # audit composition (round-8 VERDICT #1/#3)
    "simhash_pairs_documents_scale_tier": _w_simhash_scale_tier,
    "behavior_similarity_users_capped": _w_behavior_capped,
    "knn_label_noise_audit_nn_descent": _w_knn_noise_nn_descent,
}

COPY_AS_IS = ["region", "nation", "customer", "part", "supplier"]


def _suffix_every_3rd_token(i: int):
    if i == 0:
        return F.col("text")
    return F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda x, j: F.when(j % 3 == 0, F.concat(x, F.lit(f"~c{i}"))).otherwise(x),
        ),
        " ",
    )


def _nudge_embedding(i: int):
    if i == 0:
        return F.col("embedding")
    return F.transform(
        F.col("embedding"),
        lambda x, j: (x + F.lit(0.0001 * i) * ((j % 7) - F.lit(3)).cast("float")).cast(
            "float"
        ),
    )


def build_scaled(spark, n_copies: int) -> None:
    shifted = {
        "orders": {"o_orderkey": h.shift("o_orderkey", 10_000_000)},
        "lineitem": {"l_orderkey": h.shift("l_orderkey", 10_000_000)},
        "events": {
            "event_id": h.shift("event_id", 1_000_000),
            "user_id": h.shift("user_id", 100_000),
        },
        "documents": {
            "doc_id": h.shift("doc_id", 1_000_000),
            "text": _suffix_every_3rd_token,
        },
        "embeddings": {
            "vec_id": h.shift("vec_id", 1_000_000),
            "embedding": _nudge_embedding,
        },
    }
    shutil.rmtree(SCALED, ignore_errors=True)
    for t in COPY_AS_IS + list(shifted):
        df = spark.read.parquet(f"{BASE}/{t}.parquet")
        if t in shifted:
            df = h.shifted_copies(df, range(n_copies), **shifted[t])
        df.write.mode("overwrite").parquet(f"{SCALED}/{t}.parquet")


def time_queries(spark, sf_dir: str, names) -> dict[str, float]:
    res = {}
    for name in names:
        res[name] = h.run_query(spark, name, sf_dir, "scalebench")[0]
        print(f"  {sf_dir.split('/')[-1]} {name}: {res[name]}s", file=sys.stderr)
    return res


def work_metrics(spark, sf_dir: str, names) -> dict[str, dict[str, int]]:
    # dedupe by driver FUNCTION: minhash_lsh_pairs_documents and
    # near_dedup_clusters share the same candidate-pair count job — run
    # it once per scale and record it under both names (round-7 ADVICE)
    res, by_fn = {}, {}
    for name in names:
        fn = WORK_METRICS.get(name)
        if fn is None or name in res:
            continue
        if fn not in by_fn:
            by_fn[fn] = fn(spark, sf_dir)
        res[name] = by_fn[fn]
    return res


def main() -> None:
    # --work-only: record work drivers WITHOUT executing the queries —
    # for kernels whose counted work at this scale is itself the
    # evidence that running them is infeasible (see QUERIES_TO_TIME
    # note). SCALEBENCH_SKIP_BUILD=1 reuses an existing scaled dir.
    words, tiers = h.cli([10])
    n_copies = tiers[0]
    out_json = words[0] if words else None
    names = words[1:] or QUERIES_TO_TIME
    work_only = "--work-only" in sys.argv

    spark = h.spark("scalebench")
    build_s = 0.0
    if os.environ.get("SCALEBENCH_SKIP_BUILD") == "1" and os.path.isdir(SCALED):
        print("reusing existing scaled fixtures", file=sys.stderr)
    else:
        with h.timed(1) as t:
            build_scaled(spark, n_copies)
        build_s = t.s

    base = {} if work_only else time_queries(spark, BASE, names)
    scaled = {} if work_only else time_queries(spark, SCALED, names)
    report = {
        "n_copies": n_copies,
        "build_s": build_s,
        "base_s": base,
        "scaled_s": scaled,
        "ratio": {
            k: round(scaled[k] / base[k], 2) if base[k] > 0 else None for k in base
        },
        "work_base": work_metrics(spark, BASE, names),
        "work_scaled": work_metrics(spark, SCALED, names),
    }
    h.write_report("scalebench", report, out_json)


if __name__ == "__main__":
    main()
