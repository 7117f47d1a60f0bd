"""Round-3 extensions: forward as-of, unsupervised k-means, skyline,
link prediction, robust per-group statistics, truncated EWMA, and two
more REAL Structured Streaming runs (stateful dedup, stream-stream
interval join).

Same registry/oracle discipline as ``queries.py``: every aggregate is
decimal-accumulated before its final double cast, every LIMIT carries a
total tie-break, and Spark/DuckDB column aliases are identical.

Scale notes (100 TB): the skyline is one groupBy + one tiny window (no
self-join — the naive NOT EXISTS the oracle runs is quadratic); k-means
steps are explode → broadcast-dim join → hash agg (no vector ever sits
whole in an agg buffer); Adamic-Adar caps hub parts the same way
``jaccard_pairs(max_df=...)`` caps hot shingles; the EWMA is a fixed
8-term lag window, not a recursive scan.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from vmware_graph_spark.queries import _TS_FMT_SPARK, query
from vmware_graph_spark.sources.tables import load_table

_TS_FMT_SQL = "%Y-%m-%d %H:%M:%S.%f"


@query(
    "asof_join_forward_next_click",
    f"""
    WITH views AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    ), clicks AS (
      SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT v.user_id, v.event_id,
           strftime(v.ts, '{_TS_FMT_SQL}') AS view_ts,
           c.event_id AS click_event_id,
           strftime(c.ts, '{_TS_FMT_SQL}') AS click_ts,
           c.value AS click_value
    FROM views v ASOF LEFT JOIN clicks c
      ON v.user_id = c.user_id AND c.ts >= v.ts
    """,
)
def asof_join_forward_next_click(spark, sf_dir):
    """FORWARD as-of join (next-event attribution): each view matched to
    the user's earliest click at or after it. Same union +
    look-ahead-window kernel as the backward direction — one shuffle on
    user_id, no inequality join; the oracle is DuckDB's native forward
    ASOF (``c.ts >= v.ts``)."""
    from vmware_graph_spark.operators.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select("user_id", "event_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    out = asof_join(
        views,
        clicks,
        "user_id",
        "ts",
        "ts",
        right_cols=["event_id", "value"],
        prefix="c_",
        direction="forward",
    )
    return out.select(
        "user_id",
        "event_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("view_ts"),
        F.col("c_event_id").alias("click_event_id"),
        F.date_format("c_ts", _TS_FMT_SPARK).alias("click_ts"),
        F.col("c_value").alias("click_value"),
    )


_KMEANS_K = 8

_KM_CENT0 = f"""
    cent0 AS (
      SELECT vec_id AS clabel, i - 1 AS dim,
             round(CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(18,6)))
                        AS DOUBLE) / count(*), 6) AS c
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
      WHERE vec_id < {_KMEANS_K}
      GROUP BY vec_id, i
    ),
    vecd AS (
      SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    )
"""


def _km_assign_sql(cent: str, out: str) -> str:
    return f"""
    {out}_scores AS (
      SELECT vec_id, clabel,
             CAST(sum(CAST(round(v * c, 12) AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM vecd JOIN {cent} USING (dim)
      GROUP BY vec_id, clabel
    ),
    {out} AS (
      SELECT vec_id, clabel, dot FROM (
        SELECT vec_id, clabel, dot,
               row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, clabel) AS rn
        FROM {out}_scores
      ) WHERE rn = 1
    )
"""


@query(
    "kmeans_clusters_embeddings",
    f"""
    WITH {_KM_CENT0},
    {_km_assign_sql('cent0', 'a1')},
    cent1 AS (
      SELECT a1.clabel, vecd.dim,
             round(CAST(sum(CAST(round(vecd.v, 6) AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*), 6) AS c
      FROM vecd JOIN a1 USING (vec_id)
      GROUP BY a1.clabel, vecd.dim
    ),
    {_km_assign_sql('cent1', 'a2')}
    SELECT clabel AS cluster, count(*) AS n_vecs,
           round(CAST(sum(CAST(round(dot, 6) AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS avg_dot
    FROM a2
    GROUP BY clabel
    """,
)
def kmeans_clusters_embeddings(spark, sf_dir):
    """Unsupervised k-means over the embedding corpus (k=8, one full
    Lloyd round, verified step-for-step by an unrolled-CTE oracle):
    deterministic seeding (vectors 0..k-1), assign → update → assign,
    report cluster sizes and mean max-inner-product. Every step is
    explode → broadcast-dim join → decimal hash-agg (the
    ``centroids_by_label``/``assign_to_centroids`` kernels), so no
    vector is ever a whole-row agg buffer and the only shuffles are on
    (id) and (cluster, dim) — the shape that survives a 100 TB corpus.
    More Lloyd rounds at scale = the same two steps in a loop with a
    ``localCheckpoint`` per round (as ``pq_codebook`` does).
    """
    from vmware_graph_spark.operators.similarity import assign_to_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < _KMEANS_K)

    # init: each seed vector is its own 1-point "label" centroid
    cent0 = (
        seeds.select(F.col("vec_id").alias("clabel"), F.posexplode("embedding").alias("dim", "vf"))
        .groupBy("clabel", "dim")
        .agg(
            F.round(
                F.sum(F.round(F.col("vf").cast("double"), 6).cast("decimal(18,6)"))
                .cast("double")
                / F.count("*"),
                6,
            ).alias("c")
        )
    )
    a1 = assign_to_centroids(emb, "vec_id", "embedding", cent0)
    vecd = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "vf")
    ).select("vec_id", "dim", F.col("vf").cast("double").alias("v"))
    cent1 = (
        vecd.join(
            a1.select("vec_id", F.col("assigned_label").alias("clabel")), "vec_id"
        )
        .groupBy("clabel", "dim")
        .agg(
            F.round(
                F.sum(F.round(F.col("v"), 6).cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("c")
        )
    )
    a2 = assign_to_centroids(emb, "vec_id", "embedding", cent1)
    return (
        a2.groupBy(F.col("assigned_label").alias("cluster"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(
                F.sum(F.round(F.col("dot"), 6).cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_dot"),
        )
    )


@query(
    "skyline_parts_size_price",
    """
    WITH pts AS (
      SELECT p_size, CAST(p_retailprice AS DOUBLE) AS price FROM part
    )
    SELECT p_size, min(price) AS best_price,
           count(*) AS n_parts
    FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b
      WHERE b.p_size >= a.p_size AND b.price <= a.price
        AND (b.p_size > a.p_size OR b.price < a.price)
    )
    GROUP BY p_size
    """,
)
def skyline_parts_size_price(spark, sf_dir):
    """2-D Pareto frontier (skyline): parts not dominated on
    (maximize size, minimize price). The oracle runs the quadratic
    NOT-EXISTS self-join; the engine computes the identical set in
    O(n log n): per-size min price, then one tiny descending-size
    window — a point survives iff its price beats the running min over
    all strictly larger sizes. One groupBy + one |sizes|-row window, no
    self-join at any scale.
    """
    pts = load_table(spark, sf_dir, "part").select(
        "p_size", F.col("p_retailprice").cast("double").alias("price")
    )
    # per-size min + tie count in ONE scan (the skyline keeps ties):
    # window min over the size partition, keep the rows at it, count.
    wmin = Window.partitionBy("p_size")
    per_size = (
        pts.withColumn("__min", F.min("price").over(wmin))
        .filter(F.col("price") == F.col("__min"))
        .groupBy("p_size", F.col("__min").alias("best_price"))
        .agg(F.count("*").alias("n_parts"))
    )
    w = (
        Window.partitionBy()
        .orderBy(F.col("p_size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per_size.withColumn("__prev_min", F.min("best_price").over(w))
        .filter(F.col("__prev_min").isNull() | (F.col("best_price") < F.col("__prev_min")))
        .select("p_size", "best_price", "n_parts")
    )


@query(
    "adamic_adar_suppliers",
    """
    WITH sp AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    pdeg AS (
      SELECT p, count(*) AS deg FROM sp GROUP BY p
      HAVING count(*) BETWEEN 2 AND 50
    ),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2,
             round(CAST(sum(CAST(round(1.0 / ln(d.deg), 8) AS DECIMAL(18,8)))
                        AS DOUBLE), 6) AS aa
      FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
      JOIN pdeg d ON d.p = a.p
      GROUP BY a.s, b.s
    )
    SELECT s1, s2, aa FROM pairs
    ORDER BY aa DESC, s1, s2
    LIMIT 50
    """,
)
def adamic_adar_suppliers(spark, sf_dir):
    """Adamic-Adar link prediction over the supplier–part bipartite
    graph (SURVEY §2.11 graph extension): suppliers sharing rare parts
    score higher — AA(s1,s2) = Σ_{shared p} 1/ln(deg(p)). The inverted
    index (part → its suppliers) is self-joined only after the hub cap
    (deg ≤ 50, same role as ``jaccard_pairs(max_df=...)``): a part
    supplied by everyone contributes ~0 signal but n² pairs, so at
    100 TB the cap IS the feasibility condition. Decimal accumulation
    makes the float sum order-independent.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct()
    pdeg = (
        sp.groupBy("p")
        .agg(F.count("*").alias("deg"))
        .filter((F.col("deg") >= 2) & (F.col("deg") <= 50))
    )
    a = sp.select(F.col("s").alias("s1"), "p")
    b = sp.select(F.col("s").alias("s2"), "p")
    # Join order measured, kept as-is (r13): moving the pdeg cap join
    # BEFORE the self-join (what the "cap first" reading of the
    # docstring suggests, guide §3.2) was 2.5× SLOWER here — 6-7 s →
    # 15-17 s interleaved A/B at sf0.1, with or without a pinned
    # repartition before the exploding join — because this shape keeps
    # the pair expansion on the b-side probe partitions. At this SF the
    # cap prunes almost nothing (most parts sit inside deg 2..50), so
    # the early prune buys no row reduction to offset the worse
    # distribution; on a corpus with real hubs the cap's placement is
    # the feasibility knob and belongs before the self-join.
    return (
        a.join(b, "p")
        .filter(F.col("s1") < F.col("s2"))
        .join(pdeg, "p")
        .groupBy("s1", "s2")
        .agg(
            F.round(
                F.sum(
                    F.round(F.lit(1.0) / F.log(F.col("deg")), 8).cast("decimal(18,8)")
                ).cast("double"),
                6,
            ).alias("aa")
        )
        .orderBy(F.col("aa").desc(), "s1", "s2")
        .limit(50)
    )


@query(
    "median_mode_value_by_type",
    """
    WITH med AS (
      SELECT event_type,
             round(quantile_cont(value, 0.5), 4) AS median_value,
             count(*) AS n
      FROM events GROUP BY event_type
    ),
    uc AS (
      SELECT event_type, user_id, count(*) AS cnt
      FROM events GROUP BY event_type, user_id
    ),
    mode_u AS (
      SELECT event_type, user_id AS mode_user FROM (
        SELECT event_type, user_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cnt DESC, user_id) AS rn
        FROM uc
      ) WHERE rn = 1
    )
    SELECT m.event_type, m.median_value, mo.mode_user, m.n
    FROM med m JOIN mode_u mo USING (event_type)
    """,
)
def median_mode_value_by_type(spark, sf_dir):
    """Exact per-group median (interpolated, Spark ``percentile`` ==
    DuckDB ``quantile_cont``) and deterministic per-group mode
    (max-count, min-value tie-break — never ``F.mode``, whose tie
    choice is unspecified). The median is one sort-based agg per group;
    the mode is two hash aggs + a tiny window. At 100 TB the median
    would move to ``percentile_approx`` (the profiled twin
    ``approx_percentile_value`` already does); this is the exact
    reference implementation.
    """
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("median_value"),
        F.count("*").alias("n"),
    )
    uc = e.groupBy("event_type", "user_id").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(F.col("cnt").desc(), F.col("user_id"))
    mode_u = (
        uc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("user_id").alias("mode_user"))
    )
    return med.join(mode_u, "event_type").select(
        "event_type", "median_value", "mode_user", "n"
    )


_EWMA_ALPHA = 0.5
_EWMA_TERMS = 8


@query(
    "ewma_user_values",
    f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
      FROM events
    ),
    lagd AS (
      SELECT user_id, ts, event_id, rd,
             {", ".join(f"lag(value, {d}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x{d}" for d in range(_EWMA_TERMS))}
      FROM ordered
    ),
    scored AS (
      SELECT user_id, rd,
             round(
               ({" + ".join(f"coalesce(round(x{d} * {(1 - _EWMA_ALPHA) ** d:.10f}, 8), 0)" for d in range(_EWMA_TERMS))})
               /
               ({" + ".join(f"(CASE WHEN x{d} IS NULL THEN 0 ELSE {(1 - _EWMA_ALPHA) ** d:.10f} END)" for d in range(_EWMA_TERMS))}),
               4) AS ewma
      FROM lagd
    )
    SELECT user_id, ewma AS latest_ewma FROM scored WHERE rd = 1
    """,
)
def ewma_user_values(spark, sf_dir):
    """Per-user exponentially-weighted moving average of event values
    (α=0.5, 8-term truncation), reported at each user's latest event.
    The recursion y_i = αx_i + (1-α)y_{i-1} is unrolled to a fixed
    8-lag weighted window — a pure stencil over one (user, ts) sort,
    no recursive scan, no state: the identical shape at 100 TB. 8 terms
    bound the truncation error at (1-α)^8 < 0.4% of weight mass.
    """
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    lags = e.select(
        "user_id",
        F.row_number().over(wd).alias("rd"),
        *[F.lag("value", d).over(wo).alias(f"x{d}") for d in range(_EWMA_TERMS)],
    )
    num = None
    den = None
    for d in range(_EWMA_TERMS):
        wgt = (1 - _EWMA_ALPHA) ** d
        nterm = F.coalesce(F.round(F.col(f"x{d}") * F.lit(wgt), 8), F.lit(0.0))
        dterm = F.when(F.col(f"x{d}").isNull(), F.lit(0.0)).otherwise(F.lit(wgt))
        num = nterm if num is None else num + nterm
        den = dterm if den is None else den + dterm
    return (
        lags.filter(F.col("rd") == 1)
        .select("user_id", F.round(num / den, 4).alias("latest_ewma"))
    )


@query(
    "streaming_dedup_event_ids",
    """
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def streaming_dedup_event_ids(spark, sf_dir):
    """REAL Structured Streaming stateful dedup (§2.11): the events
    table is fed TWICE (two identical file sets → duplicated stream),
    ``dropDuplicatesWithinWatermark`` on event_id collapses every
    duplicate, and the drained append-mode output aggregates to exactly
    the batch per-type totals. The watermark delay exceeds the fixture
    time span so no first-occurrence can be dropped as late — at
    production scale the delay shrinks to the real dedup horizon and
    state stays bounded (the whole point of the Within-Watermark
    variant vs plain streaming dropDuplicates).
    """
    from vmware_graph_spark.tmpcache import fresh_dir
    import uuid

    from vmware_graph_spark.streaming.events import (
        dedup_within_watermark,
        read_event_stream,
        run_available_to_memory,
    )

    path = fresh_dir("vgs_sdedup_")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(2).write.mode("overwrite").parquet(path + "/a")
    ev.repartition(2).write.mode("append").parquet(path + "/a")  # the duplicate feed
    deduped = dedup_within_watermark(
        read_event_stream(spark, path + "/a"), watermark="3650 days"
    )
    name = "stream_dedup_" + uuid.uuid4().hex[:8]
    run_available_to_memory(deduped, name, output_mode="append")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round("value", 4).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@query(
    "streaming_interval_join_views_clicks",
    """
    WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
         c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
    SELECT v.user_id, count(*) AS n_pairs,
           count(DISTINCT v.event_id) AS n_views_with_click
    FROM v JOIN c ON c.user_id = v.user_id
                 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    GROUP BY v.user_id
    """,
)
def streaming_interval_join_views_clicks(spark, sf_dir):
    """REAL stream-stream interval join (§2.11): views and clicks run
    as two file streams, joined on user_id with a ±30-minute event-time
    band; the drained pairs aggregate to per-user counts equal to the
    batch interval join. The band condition is what lets Spark expire
    join state (each side holds rows only while the other side's
    watermark can still reach them) — the unbounded-state hazard of a
    plain stream-stream equi-join never arises.
    """
    from vmware_graph_spark.tmpcache import fresh_dir
    import uuid

    from vmware_graph_spark.streaming.events import read_event_stream

    path = fresh_dir("vgs_sjoin_")
    e = load_table(spark, sf_dir, "events")
    e.filter(F.col("event_type") == "view").repartition(2).write.mode(
        "overwrite"
    ).parquet(path + "/views")
    e.filter(F.col("event_type") == "click").repartition(2).write.mode(
        "overwrite"
    ).parquet(path + "/clicks")

    v = (
        read_event_stream(spark, path + "/views")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("v_event_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "3650 days")
    )
    c = (
        read_event_stream(spark, path + "/clicks")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("c_event_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "3650 days")
    )
    pairs = v.join(
        c,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    )
    name = "stream_ijoin_" + uuid.uuid4().hex[:8]
    from vmware_graph_spark.streaming.events import drain_partitions

    with drain_partitions(spark):
        q = (
            pairs.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.count_distinct("v_event_id").alias("n_views_with_click"),
        )
    )


# ---------------------------------------------------------------------------
# Batch 2: model scoring, graph coefficients, multi-quantiles, reporting
# rollups, policy-pluggable dedup survivors
# ---------------------------------------------------------------------------

from vmware_graph_spark.queries import _SH3_CTE, _h64_seeded  # noqa: E402


@query(
    "logreg_quality_score",
    r"""
    WITH feats AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE AS n_tok,
             round(len(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                   / greatest(len(text), 1), 6) AS punct,
             round(CASE WHEN len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) > 0
                   THEN len(list_filter(list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
                            x -> list_contains(['the','a','an','and','or','of','to','in','is','it',
                                                'that','for','on','as','with','was','at','by','be','this',
                                                'are','from','not','but','have'], lower(x))))::DOUBLE
                        / len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                   ELSE 0.0 END, 6) AS stop_ratio,
             round(len(text)::DOUBLE / greatest(
                   len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1), 6) AS avg_tok_len
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             round(least(greatest(
               0.25 * round(0.01 * n_tok - 4.0 * punct + 2.5 * stop_ratio
                            - 0.3 * avg_tok_len + 0.5, 6) + 0.5, 0.0), 1.0), 6) AS score
      FROM feats
    )
    SELECT CAST(floor(score * 10) AS INTEGER) AS bucket,
           count(*) AS n_docs,
           round(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_score
    FROM scored
    GROUP BY bucket
    """,
)
def logreg_quality_score(spark, sf_dir):
    """Fixed-weight linear quality model scored in-engine (the 'cheap
    classifier gate' stage of a training-data pipeline, run as a pure
    projection — no model server, no UDF): four Catalyst-computable
    features (token count, punctuation ratio, stopword ratio, mean
    token length) through frozen logistic-regression weights and a
    hard-sigmoid link (piecewise-linear, so both engines compute
    bit-identical scores — `exp()` ulp drift across libms is the reason
    real sigmoid is banned here). Output is the score histogram the
    gate's threshold would be tuned on. At 100 TB this is a mapper-only
    pass — zero shuffles before the 11-row aggregate.
    """
    from vmware_graph_spark.functions.text import (
        n_tokens,
        punct_ratio,
        stopword_ratio,
    )

    d = load_table(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        n_tokens("text").cast("double").alias("n_tok"),
        F.round(punct_ratio("text"), 6).alias("punct"),
        F.round(stopword_ratio("text"), 6).alias("stop_ratio"),
        F.round(
            F.length("text").cast("double")
            / F.greatest(n_tokens("text"), F.lit(1)).cast("double"),
            6,
        ).alias("avg_tok_len"),
    )
    z = F.round(
        0.01 * F.col("n_tok")
        - 4.0 * F.col("punct")
        + 2.5 * F.col("stop_ratio")
        - 0.3 * F.col("avg_tok_len")
        + 0.5,
        6,
    )
    score = F.round(F.least(F.greatest(0.25 * z + 0.5, F.lit(0.0)), F.lit(1.0)), 6)
    return (
        feats.select(score.alias("score"))
        .groupBy(F.floor(F.col("score") * 10).cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_score"),
        )
    )


_COOC_EDGES_SQL = """
    grp AS (
      SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) AS d
      FROM events WHERE user_id % 10 = 0
    ),
    e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM grp a JOIN grp b
        ON a.event_type = b.event_type AND a.d = b.d AND a.user_id < b.user_id
    )
"""


@query(
    "clustering_coefficient_users",
    f"""
    WITH {_COOC_EDGES_SQL},
    tri AS (
      SELECT ab.u AS a, ab.v AS b, bc.v AS c
      FROM e ab JOIN e bc ON ab.v = bc.u JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
    ),
    tids AS (
      SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
    ),
    tcount AS (SELECT id, count(*) AS triangles FROM tids GROUP BY id),
    deg AS (
      SELECT id, count(*) AS degree FROM (
        SELECT u AS id FROM e UNION ALL SELECT v FROM e
      ) GROUP BY id
    )
    SELECT d.id AS user_id, d.degree, coalesce(t.triangles, 0) AS triangles,
           round(CASE WHEN d.degree >= 2
                 THEN 2.0 * coalesce(t.triangles, 0) / (d.degree * (d.degree - 1))
                 ELSE 0.0 END, 6) AS clustering_coeff
    FROM deg d LEFT JOIN tcount t ON t.id = d.id
    """,
)
def clustering_coefficient_users(spark, sf_dir):
    """Local clustering coefficient per vertex (§2.11 graph
    algorithms): 2·triangles / (deg·(deg−1)) over the user
    co-occurrence graph — the community-tightness feature on top of the
    wedge-closure triangle kernel. Degrees are one agg over the
    canonical u<v edge list exploded both ways; vertices with no
    triangle still report (coalesce 0 after the left join). Same
    two-equi-join closure as ``triangle_count`` — no NxN neighbor
    materialization.
    """
    from vmware_graph_spark.analytics.algos import triangle_count

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    grp = e.select(
        "user_id", "event_type", F.col("ts").cast("date").alias("d")
    ).distinct()
    a = grp.alias("a")
    b = grp.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.d") == F.col("b.d"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst"))
        .distinct()
    )
    tri = triangle_count(edges)
    deg = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.join(tri.withColumnRenamed("triangles", "__t"), "id", "left")
        .select(
            F.col("id").alias("user_id"),
            "degree",
            F.coalesce(F.col("__t"), F.lit(0)).alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0
                    * F.coalesce(F.col("__t"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )


@query(
    "quantile_bands_value_by_type",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 4) AS p25,
           round(quantile_cont(value, 0.50), 4) AS p50,
           round(quantile_cont(value, 0.75), 4) AS p75,
           round(quantile_cont(value, 0.95), 4) AS p95,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def quantile_bands_value_by_type(spark, sf_dir):
    """Exact multi-quantile bands per group in ONE aggregation pass:
    Spark's ``percentile(col, array(...))`` computes all four
    interpolated quantiles from a single per-group sort — never one
    job per quantile. At 100 TB the same call sites switch to
    ``percentile_approx`` (KLL) for a one-pass mergeable sketch; this
    exact variant is the reference the approx twin is tested against.
    """
    e = load_table(spark, sf_dir, "events")
    bands = F.expr("percentile(value, array(0.25D, 0.50D, 0.75D, 0.95D))")
    return e.groupBy("event_type").agg(
        F.round(bands.getItem(0), 4).alias("p25"),
        F.round(bands.getItem(1), 4).alias("p50"),
        F.round(bands.getItem(2), 4).alias("p75"),
        F.round(bands.getItem(3), 4).alias("p95"),
        F.count("*").alias("n"),
    )


@query(
    "topk_plus_others_nation_revenue",
    """
    WITH per_nation AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum(CAST(round(o.o_totalprice, 4) AS DECIMAL(18,4))) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    ),
    ranked AS (
      SELECT region, nation, rev,
             row_number() OVER (PARTITION BY region
                                ORDER BY rev DESC, nation) AS rn
      FROM per_nation
    )
    SELECT region,
           CASE WHEN rn <= 2 THEN nation ELSE 'OTHER' END AS nation_group,
           CAST(sum(rev) AS DOUBLE) AS revenue,
           count(*) AS n_nations
    FROM ranked
    GROUP BY region, nation_group
    """,
)
def topk_plus_others_nation_revenue(spark, sf_dir):
    """Top-k-plus-OTHER reporting rollup: per region, the top-2 nations
    by revenue keep their names and the tail collapses into one OTHER
    bucket — the dashboard pattern that naive SQL writes as two scans +
    UNION. Here it is ONE aggregate → one tiny window → one
    re-aggregate; revenue stays decimal until the final double cast so
    the OTHER bucket's sum is order-independent.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.round("o_totalprice", 4).cast("decimal(18,4)")).alias("rev"))
    )
    w = Window.partitionBy("region").orderBy(F.col("rev").desc(), F.col("nation"))
    return (
        per_nation.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "nation_group",
            F.when(F.col("rn") <= 2, F.col("nation")).otherwise(F.lit("OTHER")),
        )
        .groupBy("region", "nation_group")
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count("*").alias("n_nations"),
        )
    )


@query(
    "dedup_keep_best_quality",
    f"""
    WITH RECURSIVE {_SH3_CTE},
    hx AS (
      SELECT id, i AS h_idx, min({_h64_seeded('shingle', 'i')}) AS h_val
      FROM sh CROSS JOIN (SELECT unnest(range(8)) AS i)
      GROUP BY id, i
    ),
    buckets AS (
      SELECT id, h_idx // 2 AS band,
             md5(string_agg(h_val::VARCHAR, ',' ORDER BY h_idx)) AS bucket
      FROM hx GROUP BY id, h_idx // 2
    ),
    cands AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS inter
      FROM cands c JOIN sh x ON x.id = c.id_a JOIN sh y ON y.id = c.id_b AND y.shingle = x.shingle
      GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
      SELECT i.id_a, i.id_b
      FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
      WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter) >= 0.4
    ),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
    ),
    rep AS (
      SELECT a AS doc_id, least(min(b), a) AS component FROM reach GROUP BY a
    ),
    comp AS (
      SELECT d.doc_id, coalesce(r.component, d.doc_id) AS component, d.n_chars
      FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id
    )
    SELECT doc_id, component, CAST(rn = 1 AS BOOLEAN) AS keep FROM (
      SELECT doc_id, component,
             row_number() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM comp
    )
    """,
)
def dedup_keep_best_quality(spark, sf_dir):
    """Near-dup clustering with a POLICY-pluggable survivor: instead of
    the min-id canonical row (``near_dedup_clusters``), each component
    keeps its highest-quality member (longest document, doc_id
    tie-break) — the selection real corpus dedup wants, since the
    canonical-by-id row may be the truncated copy. Same LSH→verify→
    star-contraction pipeline; the survivor choice is one extra window
    over the component assignment, so swapping policies costs one
    column ordering, not a new pipeline.
    """
    from vmware_graph_spark.analytics.algos import connected_components
    from vmware_graph_spark.operators.dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, bands=4, verify_threshold=0.4
    )
    vertices = d.select(F.col("doc_id").alias("id"))
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    cc = connected_components(vertices, edges)
    comp = cc.select(F.col("id").alias("doc_id"), "component").join(
        d.select("doc_id", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        comp.withColumn("rn", F.row_number().over(w))
        .select("doc_id", "component", (F.col("rn") == 1).alias("keep"))
    )


@query(
    "linreg_value_trend_by_type",
    """
    WITH pts AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) - epoch(TIMESTAMP '2024-01-01') AS DOUBLE) / 86400.0 AS x,
             value AS y
      FROM events
    ),
    m AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(round(y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(round(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(round(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx
      FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_per_day,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept
    FROM m
    """,
)
def linreg_value_trend_by_type(spark, sf_dir):
    """Per-group ordinary-least-squares trend (value vs days since
    epoch start) from closed-form moments — the 'fit a model per group'
    pattern with NO pandas, no UDF, no iteration: one aggregation
    computes n, Σx, Σy, Σxy, Σx² as exact decimals, and slope/intercept
    are pure projections over the 5-row result. The identical shape at
    100 TB: a map-side-combined agg and arithmetic on the driver-sized
    output. (Contrast ``trimmed_mean_value_by_type``, which shows the
    applyInPandas route when the statistic has no moment form.)
    """
    e = load_table(spark, sf_dir, "events")
    # unix_timestamp applies the SAME session-tz interpretation to both
    # operands (the fixture ts is TIMESTAMP_NTZ), so the tz offset
    # cancels; it also truncates to whole seconds, which the oracle
    # mirrors with floor(epoch(ts)).
    x = (
        F.unix_timestamp("ts")
        - F.unix_timestamp(F.lit("2024-01-01").cast("timestamp"))
    ).cast("double") / 86400.0
    pts = e.select("event_type", x.alias("x"), F.col("value").alias("y"))

    def dsum(c):
        return F.sum(F.round(c, 6).cast("decimal(28,6)")).cast("double")

    m = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_per_day"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


@query(
    "mad_outliers_by_type",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, abs(e.value - m.med) AS adev, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           round(any_value(d.med), 4) AS median_value,
           round(any_value(m2.mad), 4) AS mad,
           count(*) FILTER (WHERE d.adev > 3.0 * 1.4826 * m2.mad) AS n_outliers,
           count(*) AS n
    FROM dev d JOIN mad m2 USING (event_type)
    GROUP BY d.event_type
    """,
)
def mad_outliers_by_type(spark, sf_dir):
    """Robust outlier screen per group via Median Absolute Deviation
    (the breakdown-resistant alternative to the z-score screen in
    ``zscore_outliers_by_type`` — one wild value cannot move the
    threshold): two exact-median passes (value median, then deviation
    median), the 1.4826 normal-consistency constant, and a 3σ-equivalent
    cut. Both medians broadcast back as tiny per-group tables; the scan
    runs twice but shuffles only group-sized aggregates. At 100 TB both
    medians switch to ``percentile_approx`` and it becomes one pass.
    """
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 4).alias("median_value"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.count(
                F.when(F.col("adev") > 3.0 * 1.4826 * F.col("mad"), 1)
            ).alias("n_outliers"),
            F.count("*").alias("n"),
        )
    )


@query(
    "new_users_daily_cumulative",
    """
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT d, count(*) AS new_users FROM first_seen GROUP BY d
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, new_users,
           CAST(sum(new_users) OVER (ORDER BY d
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cumulative_users
    FROM daily
    """,
)
def new_users_daily_cumulative(spark, sf_dir):
    """Daily new-user counts with a running cumulative total — the
    growth-curve query every event pipeline reports: first-seen date
    per user (one min-agg), per-day counts, and an unbounded-preceding
    running sum over the |days|-row aggregate (the window runs on the
    tiny result, never the event stream). Distinct-accumulation without
    a day×user cross-blowup.
    """
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d")
    )
    daily = first_seen.groupBy("d").agg(F.count("*").alias("new_users"))
    w = (
        Window.partitionBy()
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


@query(
    "streaming_stateful_sessionize",
    """
    WITH o AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
      FROM events
    )
    SELECT user_id,
           sum(CASE WHEN pts IS NULL
                      OR epoch_ms(ts) - epoch_ms(pts) > 1800000
                    THEN 1 ELSE 0 END)::BIGINT AS n_sessions,
           count(*) AS n_events
    FROM o GROUP BY user_id
    """,
)
def streaming_stateful_sessionize(spark, sf_dir):
    """REAL ``applyInPandasWithState`` run (§2.11 — the one genuinely
    custom stateful operator): per-user session counts with a 30-minute
    inactivity gap, state carried across THREE micro-batches. The event
    stream is fed as three time-range files written sequentially (1.1 s
    apart, so the file source's mtime ordering is deterministic and
    each user's events arrive in event-time order — the same contract a
    Kafka source keyed by user gives). Update mode emits running totals
    every batch; the final per-user state is the max-event-count row.
    The oracle is the batch gaps-and-islands computation at the
    sessionizer's millisecond resolution.
    """
    from vmware_graph_spark.tmpcache import fresh_dir
    import uuid

    from vmware_graph_spark.streaming.events import (
        read_event_stream,
        run_available_to_memory,
        sessionize_stream,
    )

    path = fresh_dir("vgs_ssess_") + "/ev"
    ev = load_table(spark, sf_dir, "events")
    # same 0.33/0.66 percentile split this helper computes; batch order
    # carried by explicit mtime stamps (no sleeps)
    _write_time_ordered_batches(spark, sf_dir, path, ev, n=3)

    sess = sessionize_stream(read_event_stream(spark, path), gap_seconds=1800)
    name = "stream_sess_" + uuid.uuid4().hex[:8]
    run_available_to_memory(sess, name, output_mode="update")
    out = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_sessions", "n_events")
    )


@query(
    "graph_esx_version_rollup",
    """
    WITH h AS (
      SELECT s_suppkey AS sk, n_name AS cluster, 'vc-' || r_name AS uid
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    ),
    hosts AS (
      SELECT 'VMware ESXi ' || (sk % 2 + 6) || '.0' AS esxver, cluster
      FROM h WHERE sk % 11 <> 0
    )
    SELECT coalesce(esxver, 'ALL') AS esxver,
           coalesce(cluster, 'ALL') AS cluster,
           count(*) AS n_hosts
    FROM hosts
    GROUP BY ROLLUP (esxver, cluster)
    """,
)
def graph_esx_version_rollup(spark, sf_dir):
    """ESX-version fleet report over the GRAPH (SURVEY §7 step 5):
    ingest vCluster+vHost, then traverse Vspherehost —IS_ESX_VERSION→
    Vsphereesxversion and —MEMBER_OF_CLUSTER→ Vcentercluster through
    the canonical edge table, and ``rollup(esxver, cluster)`` the host
    counts — per version×cluster, per version, and fleet-wide in ONE
    expand+agg pass. The oracle recomputes the same rollup from the
    sheet fixture including the reference's inner-join row drop
    (unknown-cluster hosts never reach the graph,
    refresh-vmware.cypher:74). Both rel_type slices of the edge table
    prune before their joins; at 100 TB the edge table is partitioned
    by rel_type so the prune is a partition skip.
    """
    from vmware_graph_spark.ingest.stages import stage_vcluster, stage_vhost
    from vmware_graph_spark.queries import _vcluster_sheet, _vhost_sheet
    from vmware_graph_spark.store.graph import US, GraphStore

    store = GraphStore(spark, checkpoint=False)
    stage_vcluster(store, {"vCluster": _vcluster_sheet(spark, sf_dir)})
    stage_vhost(store, {"vHost": _vhost_sheet(spark, sf_dir)})
    edges = store.edges()
    ver = edges.filter(F.col("rel_type") == "IS_ESX_VERSION").select(
        "src_key", F.split(F.col("dst_key"), US).getItem(0).alias("esxver")
    )
    member = edges.filter(F.col("rel_type") == "MEMBER_OF_CLUSTER").select(
        "src_key", F.split(F.col("dst_key"), US).getItem(0).alias("cluster")
    )
    hosts = ver.join(member, "src_key")
    return (
        hosts.rollup("esxver", "cluster")
        .agg(F.count("*").alias("n_hosts"))
        .select(
            F.coalesce(F.col("esxver"), F.lit("ALL")).alias("esxver"),
            F.coalesce(F.col("cluster"), F.lit("ALL")).alias("cluster"),
            "n_hosts",
        )
    )


@query(
    "graph_dns_config_drift",
    """
    WITH h AS (
      SELECT s_suppkey AS sk, n_name AS cluster
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE s_suppkey % 11 <> 0
    ),
    sets AS (
      SELECT sk, cluster,
             CASE WHEN sk % 9 = 0 THEN '(none)'
                  ELSE '8.8.8.8|dns' || (sk % 4) || '.example' END AS dns_set
      FROM h
    ),
    counted AS (
      SELECT cluster, dns_set, count(*) AS cnt FROM sets GROUP BY cluster, dns_set
    ),
    modal AS (
      SELECT cluster, dns_set AS modal_dns FROM (
        SELECT cluster, dns_set,
               row_number() OVER (PARTITION BY cluster
                                  ORDER BY cnt DESC, dns_set) AS rn
        FROM counted
      ) WHERE rn = 1
    )
    SELECT s.cluster, m.modal_dns,
           count(*) AS n_hosts,
           sum(CASE WHEN s.dns_set <> m.modal_dns THEN 1 ELSE 0 END)::BIGINT
             AS n_outliers
    FROM sets s JOIN modal m ON m.cluster = s.cluster
    GROUP BY s.cluster, m.modal_dns
    """,
)
def graph_dns_config_drift(spark, sf_dir):
    """Config-drift detection over the GRAPH — the fleet-hygiene
    question a reference user asks in Cypher ("which hosts don't use
    their cluster's DNS servers?"): ingest vCluster+vHost+DNS, rebuild
    each host's DNS set from its USES_DNS edges (sorted, '|'-joined —
    hosts with no DNS edges report '(none)'), find each cluster's MODAL
    configuration (max-count, min-set tie-break), and count deviating
    hosts. One collect_set per host, one count per (cluster, set), one
    tiny argmax window — the set strings shuffle, never the edge
    fan-out. The oracle re-derives the same sets from the sheet rules,
    including the inner-join host drop and the null-DNS branch.
    """
    from vmware_graph_spark.ingest.stages import stage_dns, stage_vcluster, stage_vhost
    from vmware_graph_spark.queries import _vcluster_sheet, _vhost_sheet
    from vmware_graph_spark.store.graph import US, GraphStore

    store = GraphStore(spark, checkpoint=False)
    sheets = {
        "vCluster": _vcluster_sheet(spark, sf_dir),
        "vHost": _vhost_sheet(spark, sf_dir),
    }
    stage_vcluster(store, sheets)
    stage_vhost(store, sheets)
    stage_dns(store, sheets)

    edges = store.edges()
    member = edges.filter(F.col("rel_type") == "MEMBER_OF_CLUSTER").select(
        "src_key", F.split(F.col("dst_key"), US).getItem(0).alias("cluster")
    )
    dns = (
        edges.filter(F.col("rel_type") == "USES_DNS")
        .select("src_key", F.split(F.col("dst_key"), US).getItem(1).alias("address"))
        .groupBy("src_key")
        .agg(F.array_join(F.array_sort(F.collect_set("address")), "|").alias("dns_set"))
    )
    sets = member.join(dns, "src_key", "left").select(
        "cluster", F.coalesce(F.col("dns_set"), F.lit("(none)")).alias("dns_set")
    )
    counted = sets.groupBy("cluster", "dns_set").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("cluster").orderBy(F.col("cnt").desc(), F.col("dns_set"))
    modal = (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("dns_set").alias("modal_dns"))
    )
    return (
        sets.join(modal, "cluster")
        .groupBy("cluster", "modal_dns")
        .agg(
            F.count("*").alias("n_hosts"),
            F.sum(
                F.when(F.col("dns_set") != F.col("modal_dns"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


@query(
    "graph_datastore_usage",
    """
    WITH b AS (
      SELECT o_orderkey AS ok, n_name AS cluster, 'vc-' || r_name AS uid
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    )
    SELECT 'ds://' || cluster || '-' || uid AS datastore,
           count(*) AS n_disks,
           sum(ok % 100 + 1)::BIGINT AS total_capacity_mb
    FROM b WHERE ok % 7 <> 0
    GROUP BY datastore
    """,
)
def graph_datastore_usage(spark, sf_dir):
    """Datastore utilization over the GRAPH — the capacity-planning
    question a reference user asks in Cypher ("how many disks and how
    much provisioned capacity sits on each datastore?"): ingest vDisk
    against the seeded VM/datastore/host graph, then walk Vdatastore
    —ON_DATASTORE→ Virtualdisk through the canonical edge table and
    join the disk vertex table for the capacity property. Bracketless
    disk paths never parsed to a datastore, so they are absent exactly
    as the reference's failed MATCH drops them
    (refresh-vmware.cypher:249-251). rel_type prune → one equi-join →
    one ds-keyed agg; integer capacities sum exactly.
    """
    from vmware_graph_spark.ingest.stages import stage_vdisk
    from vmware_graph_spark.queries import _seed_vm_ds_host, _vdisk_sheet
    from vmware_graph_spark.store.graph import GraphStore

    store = GraphStore(spark, checkpoint=False)
    _seed_vm_ds_host(spark, sf_dir, store)
    stage_vdisk(store, {"vDisk": _vdisk_sheet(spark, sf_dir)})

    on_ds = store.edges().filter(F.col("rel_type") == "ON_DATASTORE").select(
        F.col("src_key").alias("datastore"), F.col("dst_key").alias("path")
    )
    disks = store.vertices("Virtualdisk").select(
        F.col("path"), F.col("capacity").cast("bigint").alias("cap")
    )
    return (
        on_ds.join(disks, "path")
        .groupBy("datastore")
        .agg(
            F.count("*").alias("n_disks"),
            F.sum("cap").alias("total_capacity_mb"),
        )
    )


@query(
    "udtf_token_runs",
    r"""
    WITH toks AS (
      SELECT doc_id, l[i] AS token, i - 1 AS pos
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
            FROM documents),
           UNNEST(range(1, len(l) + 1)) AS t(i)
    ),
    runs AS (
      SELECT doc_id, token, pos,
             pos - row_number() OVER (PARTITION BY doc_id, token ORDER BY pos) AS grp
      FROM toks
    )
    SELECT doc_id, token,
           CAST(min(pos) AS INTEGER) AS run_start,
           CAST(count(*) AS INTEGER) AS run_len
    FROM runs
    GROUP BY doc_id, token, grp
    HAVING count(*) >= 2
    """,
)
def udtf_token_runs(spark, sf_dir):
    """Python UDTF (§2.11 UDF/UDAF/UDTF row — the one API tier the
    parity surface doesn't otherwise need): run-length encoding of
    repeated tokens per document via a LATERAL table function — the
    inherently sequential per-row expansion (one input row → N output
    rows with positional state) that relational operators only express
    through the gaps-and-islands trick the oracle runs. The UDTF is the
    sanctioned shape for this: batch-pickled, executed data-parallel
    per partition, no driver involvement — but it IS Python-side, so
    the engine reserves it for logic with no Catalyst form (every other
    registry text op is pure Catalyst).
    """
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, run_start int, run_len int")
    class RLERuns:
        def eval(self, text):
            toks = [t for t in _re.split(r"\s+", text or "") if t]
            i = 0
            while i < len(toks):
                j = i
                while j < len(toks) and toks[j] == toks[i]:
                    j += 1
                if j - i >= 2:
                    yield toks[i], i, j - i
                i = j

    spark.udtf.register("vgs_rle_runs", RLERuns)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("vgs_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, r.token, r.run_start, r.run_len "
        "FROM vgs_udtf_docs d, LATERAL vgs_rle_runs(d.text) r"
    )


@query(
    "pandas_udf_midrange_by_type",
    """
    SELECT event_type,
           round((min(least(value, 250.0)) + max(least(value, 250.0))) / 2.0, 4)
             AS midrange_capped,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def pandas_udf_midrange_by_type(spark, sf_dir):
    """Arrow-vectorized pandas_udf coverage, both remaining tiers in
    one query (§2.11 UDF/UDAF/UDTF row): a SCALAR pandas_udf caps each
    value (Series→Series, one Arrow batch per task — never row-at-a-
    time), and a GROUPED_AGG pandas_udf (the UDAF tier) reduces each
    group to its midrange (min+max)/2 — an order-insensitive statistic,
    so the Python aggregation is engine-exact with no decimal scaffold.
    The oracle states the same algebra in SQL. Production stance
    unchanged: these tiers exist for logic with no Catalyst form; here
    the form is deliberately simple so the API path itself is what the
    gate verifies.
    """
    from vmware_graph_spark.functions.arrow_udfs import cap250, midrange

    e = load_table(spark, sf_dir, "events")
    capped = e.select("event_type", cap250(F.col("value")).alias("capped"))
    # Spark disallows mixing a grouped-agg pandas UDF with JVM
    # aggregates in one agg() — the count comes from its own pass,
    # joined back on the 5-row group keys.
    mid = capped.groupBy("event_type").agg(
        F.round(midrange(F.col("capped")), 4).alias("midrange_capped")
    )
    n = e.groupBy("event_type").agg(F.count("*").alias("n"))
    return mid.join(n, "event_type").select("event_type", "midrange_capped", "n")


def _write_time_ordered_batches(spark, sf_dir, path, df, n=3, extra=None):
    """Write ``df`` as ``n`` sequential time-range parquet files, plus
    an optional ``extra`` final batch (e.g. a watermark-flush sentinel).

    Batch ARRIVAL order is what the file stream source reads from file
    modification time, so each batch's new files are explicitly
    ``os.utime``-stamped one second after the previous batch's. The
    former implementation slept 1.1 s of real time between writes to
    separate the mtimes — 2–4 s of pure wait per streaming query;
    stamping is deterministic at zero wall-clock. ``_SUCCESS``/hidden
    files are ignored by the source's default path filter, so only the
    data files need stamps."""
    import os as _os
    import time as _time

    qs = [0.33, 0.66] if n == 3 else [i / n for i in range(1, n)]
    cuts = df.select(
        F.expr(
            "percentile(unix_timestamp(ts), array("
            + ", ".join(f"{q}D" for q in qs)
            + "))"
        ).alias("c")
    ).collect()[0]["c"]
    t = F.unix_timestamp("ts")
    bounds = [float(c) for c in cuts]
    conds = []
    prev = None
    for b in bounds:
        conds.append((t <= b) if prev is None else ((t > prev) & (t <= b)))
        prev = b
    conds.append(t > prev)
    batches = [df.filter(c) for c in conds]
    if extra is not None:
        batches.append(extra)
    base = _time.time()
    seen: set[str] = set()
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(path)
        stamp = base + i
        for f in _os.listdir(path):
            if f not in seen and not f.startswith(("_", ".")):
                _os.utime(_os.path.join(path, f), (stamp, stamp))
                seen.add(f)


@query(
    "streaming_session_window_counts",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id % 10 = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM sessions GROUP BY user_id, session_id
    """,
)
def streaming_session_window_counts(spark, sf_dir):
    """REAL native ``F.session_window`` STREAMING aggregation (§2.11 —
    the dynamically-merging window state Spark manages itself, vs the
    hand-rolled ``applyInPandasWithState`` twin): 30-minute-gap sessions
    over a sampled user set, three time-ordered micro-batches, APPEND
    mode — sessions only emit when the event-time watermark passes
    their close, so a final sentinel batch (one event 30 days past the
    maximum, excluded from the result) is appended purely to advance
    the watermark and flush every real session. That sentinel is the
    production pattern's stand-in: a live stream always has later data;
    a drained backfill must bring its own watermark push. Oracle: the
    batch gaps-and-islands sessionization at millisecond resolution.
    """
    from vmware_graph_spark.tmpcache import fresh_dir
    import uuid

    from vmware_graph_spark.streaming.events import read_event_stream

    path = fresh_dir("vgs_ssw_") + "/ev"
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    maxts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    sentinel = spark.createDataFrame(
        [(int(-1), maxts, int(-1), "flush", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    _write_time_ordered_batches(spark, sf_dir, path, ev, n=3, extra=sentinel)

    sdf = (
        read_event_stream(spark, path)
        .withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round("value", 4).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    name = "stream_ssw_" + uuid.uuid4().hex[:8]
    from vmware_graph_spark.streaming.events import drain_partitions

    with drain_partitions(spark):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "n_events", "sum_value")
    )


@query(
    "streaming_cdc_merge_into",
    f"""
    WITH latest AS (
      SELECT 't' || (user_id % 3) AS tenant, user_id, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT tenant, user_id,
           value AS last_value,
           strftime(ts, '{_TS_FMT_SQL}') AS last_ts
    FROM latest WHERE rn = 1
    """,
)
def streaming_cdc_merge_into(spark, sf_dir):
    """REAL CDC pipeline end-to-end (§2.11 streaming + the reference's
    refresh protocol in continuous form): the event stream drains via
    ``foreachBatch`` into a tenant-partitioned ``IncrementalTable``,
    each micro-batch reduced to its per-user latest row and MERGE'd
    (per-column upsert, checkpointed exactly-once). Because the three
    micro-batches are time-ordered, the table's final state is each
    user's overall latest (ts, event_id) row — which is exactly what
    the oracle derives from the batch table in one window. The merge
    path is the same ``upsert_last_writer_wins`` kernel every ingest
    stage uses; partition pruning on the touched tenants shows up as
    PartitionFilters in the scan (asserted in test_incremental.py).
    """
    from vmware_graph_spark.tmpcache import fresh_dir
    import uuid

    from vmware_graph_spark.store.incremental import IncrementalTable
    from vmware_graph_spark.streaming.events import read_event_stream

    base = fresh_dir("vgs_cdc_")
    path, tbl_path, ckpt = base + "/ev", base + "/tbl", base + "/ckpt"
    ev = load_table(spark, sf_dir, "events")
    _write_time_ordered_batches(spark, sf_dir, path, ev, n=3)

    table = IncrementalTable(spark, tbl_path, keys=["user_id"], tenant_col="tenant")
    changes = read_event_stream(spark, path).select(
        F.concat(F.lit("t"), (F.col("user_id") % 3).cast("string")).alias("tenant"),
        "user_id",
        F.col("value").alias("last_value"),
        "ts",
        "event_id",
    )

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        w = Window.partitionBy("tenant", "user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "tenant",
                "user_id",
                "last_value",
                F.date_format("ts", _TS_FMT_SPARK).alias("last_ts"),
            )
        )
        table.merge(latest)

    from vmware_graph_spark.streaming.events import drain_partitions

    with drain_partitions(spark):
        q = (
            changes.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return table.read().select("tenant", "user_id", "last_value", "last_ts")


@query(
    "mixture_weights_temperature",
    """
    WITH per_source AS (
      SELECT source, count(*) AS n_docs,
             round(sqrt(count(*)::DOUBLE), 6) AS w_raw
      FROM documents GROUP BY source
    ),
    total AS (
      SELECT CAST(sum(CAST(w_raw AS DECIMAL(18,6))) AS DOUBLE) AS z FROM per_source
    )
    SELECT source, n_docs,
           round(w_raw / z, 6) AS mix_weight
    FROM per_source, total
    """,
)
def mixture_weights_temperature(spark, sf_dir):
    """Temperature-scaled corpus mixture weights (the multi-source
    sampling schedule a training pipeline derives before building
    batches): per-source document counts raised to α=0.5 (sqrt — chosen
    because IEEE sqrt is correctly-rounded and therefore engine-exact,
    unlike pow), normalized into sampling probabilities. One count agg
    + a 1-row broadcast normalizer — the weights are then fed to the
    existing `weighted_sample_docs` / `stratified_sample_mixture`
    kernels. Upweights rare sources exactly as T=2 mixture sampling
    prescribes.
    """
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sqrt(F.count("*").cast("double")), 6).alias("w_raw"),
    )
    total = per_source.agg(
        F.sum(F.col("w_raw").cast("decimal(18,6)")).cast("double").alias("z")
    )
    return per_source.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        F.round(F.col("w_raw") / F.col("z"), 6).alias("mix_weight"),
    )


@query(
    "graph_vm_snapshot_report",
    f"""
    WITH b AS (  SELECT c_custkey AS ck, c_name AS vmname, n_name AS cluster, r_name AS rname,
         'vc-' || r_name AS uid, lower(replace(r_name, ' ', '')) || '.example' AS srv
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey)
    SELECT uid AS vcenter,
           count(*) AS n_snapshots,
           count(DISTINCT ck) AS n_vms_with_snapshots,
           sum(ck % 1000)::BIGINT AS total_size_mb
    FROM b WHERE ck % 7 = 0
    GROUP BY uid
    """,
)
def graph_vm_snapshot_report(spark, sf_dir):
    """Snapshot-debt fleet report over the GRAPH (the classic VMware
    hygiene query — forgotten snapshots eat datastores): traverse
    Virtualmachine —SNAPSHOT_OF→ Vsnapshot, join snapshot vertex props
    for sizes, and roll up per vCenter (tenant). Undirected-merge
    canonicalization guarantees each snapshot edge appears exactly once
    regardless of assertion direction (refresh-vmware.cypher:276). The
    oracle recomputes the rollup from the sheet's generation rule.
    """
    from vmware_graph_spark.ingest.stages import stage_vcluster, stage_vsnapshot
    from vmware_graph_spark.queries import (
        _seed_vm_ds_host,
        _vcluster_sheet,
        _vsnapshot_sheet,
    )
    from vmware_graph_spark.store.graph import US, GraphStore

    store = GraphStore(spark, checkpoint=False)
    stage_vcluster(store, {"vCluster": _vcluster_sheet(spark, sf_dir)})
    _seed_vm_ds_host(spark, sf_dir, store)
    stage_vsnapshot(store, {"vSnapshot": _vsnapshot_sheet(spark, sf_dir)})

    snap_of = store.edges().filter(F.col("rel_type") == "SNAPSHOT_OF").select(
        F.col("src_key").alias("vm_key"), F.col("dst_key").alias("snap_key")
    )
    snaps = store.vertices("Vsnapshot").select(
        F.concat_ws(US, "name", "vmuuid").alias("snap_key"),
        F.col("size").cast("bigint").alias("size_mb"),
    )
    return (
        snap_of.join(snaps, "snap_key")
        .select(
            F.split(F.col("vm_key"), US).getItem(1).alias("vcenter"),
            F.split(F.col("vm_key"), US).getItem(0).alias("vm"),
            "size_mb",
        )
        .groupBy("vcenter")
        .agg(
            F.count("*").alias("n_snapshots"),
            F.count_distinct("vm").alias("n_vms_with_snapshots"),
            F.sum("size_mb").alias("total_size_mb"),
        )
    )


# Same oracle as the inverted-index variant: prefix filtering is an
# algebraic rewrite, not a semantic change — the gate proves it.
from vmware_graph_spark.queries import ORACLE as _ORACLE  # noqa: E402


@query("jaccard_pairs_prefix_filtered", _ORACLE["jaccard_pairs_documents"])
def jaccard_pairs_prefix_filtered(spark, sf_dir):
    """PPJoin-style prefix-filtered exact Jaccard join — identical
    output to ``jaccard_pairs_documents`` (the shared oracle proves
    it), but the candidate self-join runs only on each document's
    rarest-shingle prefix: hot shingles are excluded by construction,
    so the quadratic bucket risk the plain inverted index caps with
    ``max_df`` never materializes. See
    ``operators.dedup.jaccard_pairs_prefix`` for the algebra.
    """
    from vmware_graph_spark.operators.dedup import jaccard_pairs_prefix

    d = load_table(spark, sf_dir, "documents")
    out = jaccard_pairs_prefix(d, "doc_id", "text", n=3, threshold=0.4)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "wow_revenue_change",
    """
    WITH weekly AS (
      SELECT date_trunc('week', o_orderdate) AS week_start,
             CAST(sum(CAST(round(o_totalprice, 4) AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue,
             count(*) AS n_orders
      FROM orders GROUP BY week_start
    )
    SELECT strftime(week_start, '%Y-%m-%d') AS week, revenue, n_orders,
           round(CASE WHEN lag(revenue) OVER w IS NULL
                        OR lag(revenue) OVER w = 0 THEN NULL
                      ELSE 100.0 * (revenue - lag(revenue) OVER w)
                            / lag(revenue) OVER w END, 4) AS pct_change
    FROM weekly
    WINDOW w AS (ORDER BY week_start)
    """,
)
def wow_revenue_change(spark, sf_dir):
    """Week-over-week growth — the reporting stencil every revenue
    dashboard runs: weekly decimal-accumulated totals, then a lag
    window over the |weeks|-row aggregate for percent change (null for
    the first week — no fake 0% baseline). The window runs on the tiny
    aggregate, never the fact table; date_trunc('week') matches Spark
    and DuckDB (both ISO Monday weeks).
    """
    o = load_table(spark, sf_dir, "orders")
    weekly = o.groupBy(F.date_trunc("week", "o_orderdate").alias("week_start")).agg(
        F.sum(F.round("o_totalprice", 4).cast("decimal(18,4)"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    w = Window.partitionBy().orderBy("week_start")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        F.date_format("week_start", "yyyy-MM-dd").alias("week"),
        "revenue",
        "n_orders",
        F.round(
            F.when(prev.isNull() | (prev == 0), F.lit(None)).otherwise(
                100.0 * (F.col("revenue") - prev) / prev
            ),
            4,
        ).alias("pct_change"),
    )


@query(
    "missing_days_per_user",
    """
    WITH span AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1,
             count(DISTINCT CAST(ts AS DATE)) AS active_days
      FROM events WHERE user_id % 10 = 0 GROUP BY user_id
    )
    SELECT user_id, active_days,
           (date_diff('day', d0, d1) + 1)::BIGINT AS span_days,
           (date_diff('day', d0, d1) + 1 - active_days)::BIGINT AS missing_days
    FROM span
    """,
)
def missing_days_per_user(spark, sf_dir):
    """Activity-gap census per user (the engagement-hole question):
    days inside each user's first→last span with NO events. Computed
    WITHOUT materializing the user×day grid — span length is date
    arithmetic and active days an exact distinct count, so missing =
    span − active. (The grid-based sibling `resample_daily_ffill_user_
    values` exists for when the per-day rows themselves are wanted;
    for a count, the arithmetic form is the one that scales.)
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    span = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
        F.count_distinct(F.col("ts").cast("date")).alias("active_days"),
    )
    return span.select(
        "user_id",
        "active_days",
        (F.datediff("d1", "d0") + 1).cast("bigint").alias("span_days"),
        (F.datediff("d1", "d0") + 1 - F.col("active_days"))
        .cast("bigint")
        .alias("missing_days"),
    )


@query(
    "incremental_agg_maintenance",
    """
    WITH allrows AS (
      SELECT * FROM events
    )
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           round(CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*), 6) AS avg_value
    FROM allrows GROUP BY event_type
    """,
)
def incremental_agg_maintenance(spark, sf_dir):
    """Incremental aggregate maintenance — the mergeable-aggregate
    refresh pattern: the 'base' aggregate (first 80% of events by
    event_id) is NOT recomputed when the 20% delta arrives; instead
    base and delta partial aggregates (count, decimal sum — both
    algebraic) merge by key, and avg derives from the merged moments.
    The oracle recomputes over everything, proving merged == recomputed
    — the property that makes per-partition/day rollups composable at
    100 TB (aggregate each increment once, fold summaries forever).
    """
    e = load_table(spark, sf_dir, "events")
    cut = F.col("event_id") % 5 != 0
    dec = lambda c: F.sum(F.round(c, 4).cast("decimal(18,4)"))  # noqa: E731

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count("*").alias("n"), dec(F.col("value")).alias("s")
        )

    base = partial(e.filter(cut))
    delta = partial(e.filter(~cut))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    )
    return merged.select(
        "event_type",
        "n",
        F.col("s").cast("double").alias("sum_value"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("avg_value"),
    )


@query(
    "chi2_type_weekday",
    """
    WITH obs AS (
      SELECT event_type, dayofweek(ts) AS dow, count(*) AS o
      FROM events GROUP BY event_type, dow
    ),
    margins AS (
      SELECT event_type, sum(o) AS row_n FROM obs GROUP BY event_type
    ),
    cols AS (
      SELECT dow, sum(o) AS col_n FROM obs GROUP BY dow
    ),
    total AS (SELECT sum(o) AS n FROM obs)
    SELECT round(CAST(sum(CAST(round(
             power(o - (row_n * col_n / CAST(n AS DOUBLE)), 2)
               / (row_n * col_n / CAST(n AS DOUBLE)), 8) AS DECIMAL(28,8)))
           AS DOUBLE), 4) AS chi2,
           CAST((count(*) - count(DISTINCT event_type) - count(DISTINCT dow) + 1)
                AS BIGINT) AS dof_upper
    FROM obs JOIN margins USING (event_type) JOIN cols USING (dow), total
    """,
)
def chi2_type_weekday(spark, sf_dir):
    """Chi-square independence screen for event type × weekday — the
    'is usage day-patterned per type?' data-profiling question, from
    ONE contingency aggregation: observed counts, row/column margins
    broadcast back, expected = row·col/n, χ² accumulated as exact
    decimals of rounded per-cell terms (squares and divisions are
    deterministic IEEE ops). No statistics library, no sampling — the
    full-data statistic at any scale.
    """
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy("event_type", F.dayofweek("ts").alias("dow")).agg(
        F.count("*").alias("o")
    )
    margins = obs.groupBy("event_type").agg(F.sum("o").alias("row_n"))
    cols = obs.groupBy("dow").agg(F.sum("o").alias("col_n"))
    total = obs.agg(F.sum("o").alias("n"))
    j = (
        obs.join(F.broadcast(margins), "event_type")
        .join(F.broadcast(cols), "dow")
        .crossJoin(F.broadcast(total))
    )
    exp = F.col("row_n") * F.col("col_n") / F.col("n").cast("double")
    term = F.round(F.pow(F.col("o") - exp, 2) / exp, 8)
    return j.agg(
        F.round(
            F.sum(term.cast("decimal(28,8)")).cast("double"), 4
        ).alias("chi2"),
        (
            F.count("*")
            - F.count_distinct("event_type")
            - F.count_distinct("dow")
            + 1
        )
        .cast("bigint")
        .alias("dof_upper"),
    )


@query(
    "user_event_timeline",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id % 25 = 0
    )
    SELECT user_id,
           array_to_string(list(event_type ORDER BY rn), '>') AS first_events,
           count(*) AS n_shown
    FROM ordered WHERE rn <= 5
    GROUP BY user_id
    """,
)
def user_event_timeline(spark, sf_dir):
    """Nested-type assembly: each sampled user's first five events as
    an ordered journey string (the feature a churn model consumes).
    Spark side sorts structs inside the array — ``array_sort`` over
    collected (rn, type) structs, then a transform projects the type —
    so the per-user order is data-defined, not shuffle-defined.
    One window + one collect per user; the 5-row cap bounds state.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 25 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = e.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    return (
        ranked.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("first_events"),
            F.count("*").alias("n_shown"),
        )
    )


@query(
    "bpe_pair_counts",
    r"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
      FROM documents
    ),
    pairs AS (
      SELECT substr(tok, i, 2) AS pair
      FROM toks, UNNEST(range(1, len(tok))) AS t(i)
      WHERE len(tok) >= 2
    )
    SELECT pair, count(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def bpe_pair_counts(spark, sf_dir):
    """The first step of BPE tokenizer TRAINING (not application):
    corpus-wide adjacent-character-pair frequencies — the statistic the
    merge rule argmaxes over each BPE round. Pairs come from a
    ``transform(sequence(...))`` expansion inside whole-stage codegen
    (tokens shorter than 2 chars are filtered FIRST — Spark's
    ``sequence(1, 0)`` is descending ``[1, 0]``, not empty, so the
    guard is correctness, not just cost), one hash count, and a
    TakeOrderedAndProject top-20. A full BPE trainer is this query in a
    driver loop with the merge applied between rounds — each round
    stays one pass.
    """
    from vmware_graph_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(20)
    )


@query(
    "hotkey_isolated_join",
    """
    SELECT n_name,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice, 4) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n_name
    """,
)
def hotkey_isolated_join(spark, sf_dir):
    """Hot-key ISOLATION join — the skew pattern complementary to
    salting (``salted_join_region_revenue``): keys above a frequency
    threshold are split out and joined via a tiny broadcast of just
    their dimension rows (no shuffle can skew on them), while the cold
    tail takes the ordinary shuffle join; the union re-aggregates.
    The oracle is the plain join — isolation is a physical rewrite
    with identical semantics, and the gate proves it. At 100 TB this
    is the shape for power-law keys too hot even for AQE's skew-split
    (one customer = half the orders): the hot side never enters an
    exchange at all. The hot-key census itself is one map-side-combined
    count (cheap) and is the same statistic AQE gathers at runtime.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))

    hot_keys = (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > 20)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    c_hot = F.broadcast(c.join(F.broadcast(hot_keys), "c_custkey"))
    o_hot = o.join(
        F.broadcast(hot_keys.withColumnRenamed("c_custkey", "o_custkey")),
        "o_custkey",
        "left_semi",
    )
    o_cold = o.join(
        F.broadcast(hot_keys.withColumnRenamed("c_custkey", "o_custkey")),
        "o_custkey",
        "left_anti",
    )
    hot = o_hot.join(c_hot, o_hot.o_custkey == c_hot.c_custkey)
    cold = o_cold.join(c, o_cold.o_custkey == c.c_custkey)
    both = hot.select("o_totalprice", "c_nationkey").unionByName(
        cold.select("o_totalprice", "c_nationkey")
    )
    return (
        both.join(n, F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round("o_totalprice", 4).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "retrieval_index_pipeline",
    r"""
    WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks FROM documents),
    nn AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    s AS (
      SELECT doc_id, toks,
             unnest(range(0, ((n - 1) // 24) * 24 + 1, 24)) AS start
      FROM nn
    ),
    chunks AS (
      SELECT doc_id, CAST(start // 24 AS INTEGER) AS chunk_id,
             array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk_text
      FROM s
    ),
    ctok AS (
      SELECT doc_id, chunk_id,
             unnest(list_filter(string_split_regex(chunk_text, '\s+'), x -> x <> '')) AS tk
      FROM chunks
    ),
    ch AS (SELECT doc_id, chunk_id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS hv FROM ctok),
    cvec AS (
      SELECT doc_id, chunk_id, CAST((hv // 2) % 64 AS INT) AS dim,
             CAST(sum(CASE WHEN hv % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS w
      FROM ch GROUP BY doc_id, chunk_id, (hv // 2) % 64
      HAVING sum(CASE WHEN hv % 2 = 0 THEN 1 ELSE -1 END) <> 0
    ),
    cnrm AS (SELECT doc_id, chunk_id, sqrt(CAST(sum(w * w) AS DOUBLE)) AS cn
             FROM cvec GROUP BY doc_id, chunk_id),
    qtok AS (
      SELECT doc_id AS qid,
             unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tk
      FROM documents WHERE doc_id % 97 = 0
    ),
    qh AS (SELECT qid, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS hv FROM qtok),
    qvec AS (
      SELECT qid, CAST((hv // 2) % 64 AS INT) AS dim,
             CAST(sum(CASE WHEN hv % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS qw
      FROM qh GROUP BY qid, (hv // 2) % 64
      HAVING sum(CASE WHEN hv % 2 = 0 THEN 1 ELSE -1 END) <> 0
    ),
    qnrm AS (SELECT qid, sqrt(CAST(sum(qw * qw) AS DOUBLE)) AS qn FROM qvec GROUP BY qid),
    dots AS (
      SELECT q.qid, c.doc_id, c.chunk_id, CAST(sum(q.qw * c.w) AS DOUBLE) AS dot
      FROM qvec q JOIN cvec c ON q.dim = c.dim AND c.doc_id <> q.qid
      GROUP BY q.qid, c.doc_id, c.chunk_id
    ),
    scored AS (
      SELECT d.qid AS query_id, d.doc_id, d.chunk_id,
             d.dot / (qn.qn * cn.cn) AS cosr,
             row_number() OVER (PARTITION BY d.qid
                                ORDER BY d.dot / (qn.qn * cn.cn) DESC,
                                         d.doc_id, d.chunk_id) AS rank
      FROM dots d JOIN qnrm qn ON qn.qid = d.qid
      JOIN cnrm cn ON cn.doc_id = d.doc_id AND cn.chunk_id = d.chunk_id
    )
    SELECT query_id, doc_id, chunk_id, round(cosr, 6) AS cosine,
           CAST(rank AS INTEGER) AS rank
    FROM scored WHERE rank <= 3
    """,
)
def retrieval_index_pipeline(spark, sf_dir):
    """RAG indexing end-to-end in ONE declarative pipeline — the
    composite a retrieval corpus actually runs: overlap-chunk every
    document (32/24, zero-shuffle projection), hashing-trick-embed each
    CHUNK into sparse 64-dim signed counts, embed the query docs the
    same way, score through the inverted dim index (chunks meet queries
    only on shared dimensions — never a dense crossJoin), exclude
    self-document chunks, and take top-3 chunks per query with a total
    tie-break. Integer dots + correctly-rounded sqrt/division keep
    ranking engine-exact. At 100 TB: the dim join is the single big
    shuffle; hot dims shard like hot shingles (same max_df cure), and
    the dense-embedding twin of this pipeline is `bq_rerank_topk` over
    real vectors.
    """
    from vmware_graph_spark.operators.quality import chunk_documents, feature_hash_embed

    d = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(d, "doc_id", "text", size=32, stride=24).select(
        F.col("id").alias("src_doc"), "chunk_id", "chunk_text"
    )
    cvec = feature_hash_embed(
        chunks.withColumn(
            "cid", F.concat_ws("#", F.col("src_doc"), F.col("chunk_id"))
        ),
        "cid",
        "chunk_text",
        dims=64,
    ).select(
        F.split_part(F.col("id"), F.lit("#"), F.lit(1)).cast("long").alias("doc_id"),
        F.split_part(F.col("id"), F.lit("#"), F.lit(2)).cast("int").alias("chunk_id"),
        "dim",
        "w",
    )
    cnrm = cvec.groupBy("doc_id", "chunk_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("cn")
    )
    q = d.filter(F.col("doc_id") % 97 == 0)
    qvec = feature_hash_embed(q, "doc_id", "text", dims=64).select(
        F.col("id").alias("qid"), "dim", F.col("w").alias("qw")
    )
    qnrm = qvec.groupBy("qid").agg(
        F.sqrt(F.sum(F.col("qw") * F.col("qw")).cast("double")).alias("qn")
    )
    dots = (
        qvec.join(cvec, "dim")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "doc_id", "chunk_id")
        .agg(F.sum(F.col("qw") * F.col("w")).cast("double").alias("dot"))
    )
    scored = (
        dots.join(qnrm, "qid")
        .join(cnrm, ["doc_id", "chunk_id"])
        .withColumn("cosr", F.col("dot") / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosr").desc(), F.col("doc_id"), F.col("chunk_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("qid").alias("query_id"),
            "doc_id",
            "chunk_id",
            F.round("cosr", 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# RBO@10 prefix weights for persistence p = 1/2: w(m) = Σ_{d=m..10} p^d / d,
# precomputed once and injected as identical literals into BOTH engines so
# the sum order can never differ.
_RBO_W = {
    1: 0.693064856151, 2: 0.193064856151, 3: 0.068064856151,
    4: 0.026398189484, 5: 0.010773189484, 6: 0.004523189484,
    7: 0.001919022817, 8: 0.000802951389, 9: 0.000314670139,
    10: 0.00009765625,
}
_RBO_CASE_SQL = "CASE m " + " ".join(
    f"WHEN {m} THEN {w:.12f}" for m, w in _RBO_W.items()
) + " END"


@query(
    "rbo_matryoshka_vs_exact",
    f"""
    WITH full_t AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                           embedding::DOUBLE[]))) AS v
      FROM embeddings
    ),
    tr_t AS (
      SELECT vec_id,
             list_transform(list_slice(embedding::DOUBLE[], 1, 16),
                            x -> x / sqrt(list_dot_product(list_slice(embedding::DOUBLE[], 1, 16),
                                                           list_slice(embedding::DOUBLE[], 1, 16)))) AS v
      FROM embeddings
    ),
    fr AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS ra
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.v, c.v) AS cos
        FROM full_t q JOIN full_t c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 8
      )
    ),
    tr AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rb
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.v, c.v) AS cos
        FROM tr_t q JOIN tr_t c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 8
      )
    ),
    shared AS (
      SELECT f.query_id, greatest(f.ra, t.rb) AS m
      FROM fr f JOIN tr t ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
      WHERE f.ra <= 10 AND t.rb <= 10
    ),
    qs AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 8)
    SELECT q.query_id,
           round(coalesce(CAST(sum(CAST(round({_RBO_CASE_SQL}, 12) AS DECIMAL(18,12)))
                               AS DOUBLE), 0.0), 6) AS rbo
    FROM qs q LEFT JOIN shared s ON s.query_id = q.query_id
    GROUP BY q.query_id
    """,
)
def rbo_matryoshka_vs_exact(spark, sf_dir):
    """Rank-Biased Overlap @10 (p=1/2) between the exact full-dim
    cosine ranking and the 16-dim matryoshka-truncated ranking — the
    top-weighted rank-agreement metric that tells you whether the 4×
    cheaper tier agrees where it matters (rank 1 carries ~70% of the
    weight) rather than merely overlapping as a set the way recall@k
    measures (`ann_recall_bq_vs_exact` is the set-overlap sibling).
    Relational form: each id shared by both top-10s contributes a
    weight keyed by max(rank_a, rank_b) — the prefix-membership sum
    collapses to one join + one lookup; the per-depth weights are
    precomputed literals injected into both engines, so no pow() and no
    engine-varying summation order.
    """
    from vmware_graph_spark.functions.vector import dot
    from vmware_graph_spark.operators.similarity import truncate_normalize

    e = load_table(spark, sf_dir, "embeddings")

    def ranking(t, rank_name):
        q = t.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("__v").alias("__qv")
        )
        c = t.select(F.col("vec_id").alias("neighbor_id"), F.col("__v").alias("__cv"))
        s = (
            c.crossJoin(F.broadcast(q))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cos", dot(F.col("__qv"), F.col("__cv")))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id").asc()
        )
        return (
            s.withColumn(rank_name, F.row_number().over(w))
            .filter(F.col(rank_name) <= 10)
            .select("query_id", "neighbor_id", rank_name)
        )

    fr = ranking(truncate_normalize(e, "embedding", 64, out_col="__v"), "ra")
    tr = ranking(truncate_normalize(e, "embedding", 16, out_col="__v"), "rb")
    shared = fr.join(tr, ["query_id", "neighbor_id"]).select(
        "query_id", F.greatest("ra", "rb").alias("m")
    )
    weight = F.round(
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in _RBO_W.items() for x in kv]
            ),
            F.col("m"),
        ),
        12,
    )
    qs = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id")
    ).distinct()
    return (
        qs.join(shared, "query_id", "left")
        .groupBy("query_id")
        .agg(
            F.round(
                F.coalesce(
                    F.sum(weight.cast("decimal(18,12)")).cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("rbo")
        )
    )
