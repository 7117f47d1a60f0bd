"""Round-5 extensions, batch 3: streaming OHLC bars, l-diversity
governance, winsorized robust means, collocation lift mining, Allen
interval-algebra classification, and TextRank keyword extraction.

Same registry/oracle discipline as ``queries.py``; see
``queries_ext3.py`` for the shared numeric-determinism rules.

Scale notes (100 TB):

- ``streaming_ohlc_daily_by_type`` keeps OHLC bars live on a stream:
  open/close are struct-ordered min/max aggregates (pure agg buffers —
  no per-window sort, no row_number), so state per (type, window) is
  four scalars + a count, watermark-evictable.
- ``l_diversity_audit_customers`` complements the k-anonymity gate:
  one aggregation, count_distinct of the sensitive attribute per
  quasi-identifier cell.
- ``winsorized_mean_value_by_type`` computes p05/p95 caps by rank pick
  per group, broadcasts the tiny cap table back, clips, and averages in
  decimal — the robust-mean alternative to trimming that keeps n.
- ``bigram_lift_collocations`` is collocation mining without libm: lift
  = P(ab)/(P(a)P(b)) as exact-integer products in double — no log-PMI,
  same ranking.
- ``allen_interval_relations_users`` classifies interval pairs into the
  13 Allen relations with pure integer endpoint comparisons; pairs are
  banded per day so the join never goes quadratic in users globally.
- ``textrank_keywords_documents`` is TextRank: the token co-occurrence
  graph (window-1 adjacency over a df-pruned vocabulary) run through
  the INTEGER fixed-point PageRank kernel (`analytics.algos
  .pagerank_fixed`) — bit-identical across engines, verified by an
  unrolled-CTE oracle replaying every iteration.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from vmware_graph_spark.queries import query
from vmware_graph_spark.queries_ext3 import _OHLC_SQL
from vmware_graph_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Streaming OHLC daily bars (real run; oracle = the batch OHLC query)
# ---------------------------------------------------------------------------


@query("streaming_ohlc_daily_by_type", _OHLC_SQL)
def streaming_ohlc_daily_by_type(spark, sf_dir):
    """REAL Structured Streaming OHLC: events re-fed as a 3-file
    parquet stream, daily tumbling windows per event type, with open =
    min(struct(ts, event_id, v)).v and close = the max-struct twin —
    ordering aggregates, NOT window sorts, so streaming state per bar
    is O(1) scalars and the watermark can evict closed bars. Complete
    mode + decimal accumulation makes the drained memory sink identical
    to the batch ``ohlc_daily_value_by_type`` oracle."""
    from vmware_graph_spark.tmpcache import fresh_dir
    import uuid

    from vmware_graph_spark.streaming.events import (
        read_event_stream,
        run_available_to_memory,
    )

    path = fresh_dir("vgs_stream_ohlc_")
    load_table(spark, sf_dir, "events").repartition(3).write.mode(
        "overwrite"
    ).parquet(path)
    ev = read_event_stream(spark, path).select(
        "event_type",
        "ts",
        "event_id",
        F.round("value", 2).cast("decimal(18,2)").alias("v"),
    )
    bars = (
        ev.withWatermark("ts", "48 hours")
        .groupBy("event_type", F.window("ts", "1 day").alias("w"))
        .agg(
            F.min(F.struct("ts", "event_id", "v")).alias("first_ev"),
            F.max("v").alias("high"),
            F.min("v").alias("low"),
            F.max(F.struct("ts", "event_id", "v")).alias("last_ev"),
            F.count("*").alias("n_events"),
        )
    )
    name = "stream_ohlc_" + uuid.uuid4().hex[:8]
    run_available_to_memory(bars, name, output_mode="complete")
    return spark.table(name).select(
        "event_type",
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
        F.col("first_ev.v").cast("double").alias("open"),
        F.col("high").cast("double").alias("high"),
        F.col("low").cast("double").alias("low"),
        F.col("last_ev.v").cast("double").alias("close"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# l-diversity audit (sensitive-attribute diversity per QI cell)
# ---------------------------------------------------------------------------

_L_DIV = 2

_L_DIVERSITY_SQL = f"""
    WITH cells AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             CAST(count(*) AS BIGINT) AS group_size,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct
      FROM customer
      GROUP BY c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT)
    )
    SELECT c_nationkey, bal_bucket, group_size, l_distinct
    FROM cells WHERE l_distinct < {_L_DIV}
    ORDER BY c_nationkey, bal_bucket
"""


@query("l_diversity_audit_customers", _L_DIVERSITY_SQL)
def l_diversity_audit_customers(spark, sf_dir):
    """Governance gate #2 (pairs with ``k_anonymity_audit_customers``):
    quasi-identifier cells (nation × coarse balance bucket) where the
    SENSITIVE attribute (market segment) shows fewer than l={_L_DIV}
    distinct values — k-anonymous groups can still leak the sensitive
    value if everyone in the group shares it. One aggregation with a
    distinct count; three-column scan projection."""
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_bucket"),
    ).agg(
        F.count("*").cast("bigint").alias("group_size"),
        F.count_distinct("c_mktsegment").cast("bigint").alias("l_distinct"),
    )
    return (
        cells.filter(F.col("l_distinct") < _L_DIV)
        .select("c_nationkey", "bal_bucket", "group_size", "l_distinct")
        .orderBy("c_nationkey", "bal_bucket")
    )


# ---------------------------------------------------------------------------
# Winsorized mean per group (p05/p95 caps by exact rank pick)
# ---------------------------------------------------------------------------

_WINSOR_SQL = """
    WITH v AS (
      SELECT event_type, event_id, round(value, 2)::DECIMAL(18,2) AS val
      FROM events WHERE value IS NOT NULL
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY val, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ), caps AS (
      SELECT event_type,
             max(CASE WHEN rn = (5 * n - 1) // 100 + 1 THEN val END) AS cap_lo,
             max(CASE WHEN rn = (95 * n - 1) // 100 + 1 THEN val END) AS cap_hi
      FROM ranked GROUP BY event_type
    )
    SELECT v.event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(cap_lo AS DOUBLE) AS cap_lo, CAST(cap_hi AS DOUBLE) AS cap_hi,
           round(CAST(sum(least(greatest(val, cap_lo), cap_hi)) AS DOUBLE)
                 / count(*), 6) AS winsor_mean
    FROM v JOIN caps ON v.event_type = caps.event_type
    GROUP BY v.event_type, cap_lo, cap_hi
    ORDER BY v.event_type
"""


@query("winsorized_mean_value_by_type", _WINSOR_SQL)
def winsorized_mean_value_by_type(spark, sf_dir):
    """Winsorized robust mean: exact p05/p95 caps per group by rank
    pick (one window over the group), values CLIPPED to the caps rather
    than dropped (keeps n, unlike ``trimmed_mean_value_by_type``), mean
    from decimal-exact sums. The cap table is group-count-sized and
    broadcasts back."""
    v = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.round("value", 2).cast("decimal(18,2)").alias("val"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("val", "event_id")
    ranked = v.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("event_type"))
    )
    caps = ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("div(5 * n - 1, 100) + 1"), F.col("val"))
        ).alias("cap_lo"),
        F.max(
            F.when(F.col("rn") == F.expr("div(95 * n - 1, 100) + 1"), F.col("val"))
        ).alias("cap_hi"),
    )
    return (
        v.join(F.broadcast(caps), "event_type")
        .groupBy("event_type", "cap_lo", "cap_hi")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(
                F.sum(
                    F.least(F.greatest(F.col("val"), F.col("cap_lo")), F.col("cap_hi"))
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("winsor_mean"),
        )
        .select(
            "event_type",
            "n",
            F.col("cap_lo").cast("double").alias("cap_lo"),
            F.col("cap_hi").cast("double").alias("cap_hi"),
            "winsor_mean",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Collocation mining by lift (PMI's ranking without libm)
# ---------------------------------------------------------------------------

_LIFT_MIN_AB = 3

_LIFT_SQL = rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
      FROM documents
    ), uni AS (
      SELECT tok, count(*) AS n_tok FROM t, UNNEST(toks) AS u(tok) GROUP BY tok
    ), nn AS (
      SELECT sum(n_tok) AS n FROM uni
    ), bi AS (
      SELECT toks[i] AS a, toks[i + 1] AS b, count(*) AS n_ab
      FROM t, UNNEST(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2
      GROUP BY a, b HAVING count(*) >= {_LIFT_MIN_AB}
    )
    SELECT a, b, n_ab,
           round((n_ab::DOUBLE * n) / (ua.n_tok::DOUBLE * ub.n_tok), 6) AS lift
    FROM bi JOIN uni ua ON bi.a = ua.tok
            JOIN uni ub ON bi.b = ub.tok, nn
    ORDER BY lift DESC, a, b LIMIT 20
"""


@query("bigram_lift_collocations", _LIFT_SQL)
def bigram_lift_collocations(spark, sf_dir):
    """Collocation mining: adjacent-pair lift = P(ab) / (P(a)P(b)),
    the PMI ranking without its logarithm (log is monotone, so top-k by
    lift IS top-k by PMI — and integer counts in double are exact,
    keeping both engines bit-identical). One bigram shuffle + two
    broadcast-sized unigram joins; the min-support filter prunes the
    candidate set before any join."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("toks"),
        )
    )
    uni = t.select(F.explode("toks").alias("tok")).groupBy("tok").agg(
        F.count("*").alias("n_tok")
    )
    nn = uni.agg(F.sum("n_tok").alias("n"))
    bi = (
        t.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] as a, toks[i + 1] as b))"
                )
            ).alias("p")
        )
        .select("p.*")
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _LIFT_MIN_AB)
    )
    ua = uni.select(F.col("tok").alias("a"), F.col("n_tok").alias("na"))
    ub = uni.select(F.col("tok").alias("b"), F.col("n_tok").alias("nb"))
    return (
        bi.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(nn))
        .select(
            "a",
            "b",
            "n_ab",
            F.round(
                (F.col("n_ab").cast("double") * F.col("n"))
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "a", "b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Allen interval algebra over per-user daily activity intervals
# ---------------------------------------------------------------------------

_ALLEN_CASE = """
    CASE
      WHEN s1 = s2 AND e1 = e2 THEN 'equals'
      WHEN e1 < s2 THEN 'precedes'
      WHEN e2 < s1 THEN 'preceded_by'
      WHEN e1 = s2 THEN 'meets'
      WHEN e2 = s1 THEN 'met_by'
      WHEN s1 = s2 AND e1 < e2 THEN 'starts'
      WHEN s1 = s2 AND e1 > e2 THEN 'started_by'
      WHEN e1 = e2 AND s1 > s2 THEN 'finishes'
      WHEN e1 = e2 AND s1 < s2 THEN 'finished_by'
      WHEN s1 > s2 AND e1 < e2 THEN 'during'
      WHEN s1 < s2 AND e1 > e2 THEN 'contains'
      WHEN s1 < s2 AND e1 > s2 AND e1 < e2 THEN 'overlaps'
      ELSE 'overlapped_by'
    END
"""

_ALLEN_SQL = f"""
    WITH iv AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), pairs AS (
      SELECT a.day, a.s AS s1, a.e AS e1, b.s AS s2, b.e AS e2
      FROM iv a JOIN iv b ON a.day = b.day AND a.user_id < b.user_id
    )
    SELECT {_ALLEN_CASE} AS relation, count(*) AS n
    FROM pairs GROUP BY relation ORDER BY n DESC, relation
"""


@query("allen_interval_relations_users", _ALLEN_SQL)
def allen_interval_relations_users(spark, sf_dir):
    """Allen's interval algebra: each user's daily activity span
    [first_event, last_event] classified against every other user's
    same-day span into the 13 Allen relations via pure integer
    (microsecond-epoch) endpoint comparisons. The pair join is banded
    by day — per-band quadratic in daily-active users, never in the
    global user set. Temporal-reasoning feature extraction for
    overlap/containment analytics."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("s"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("e"),
    )
    a = iv.select(
        F.col("day"),
        F.col("user_id").alias("u1"),
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
    )
    b = iv.select(
        F.col("day").alias("day2"),
        F.col("user_id").alias("u2"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
    )
    pairs = a.join(b, (a.day == b.day2) & (a.u1 < b.u2))
    return (
        pairs.select(F.expr(_ALLEN_CASE).alias("relation"))
        .groupBy("relation")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "relation")
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (fixed-point PageRank on co-occurrence)
# ---------------------------------------------------------------------------

_TR_MIN_DF = 3  # vocabulary prune: tokens appearing >= 3 times corpus-wide
_TR_ITERS = 5
_TR_TOPK = 15


def _textrank_sql() -> str:
    """Unrolled integer fixed-point PageRank over the token
    co-occurrence graph — same iteration template as
    ``_pagerank_fixed_sql`` (queries.py), graph swapped for window-1
    token adjacency on the df-pruned vocabulary."""
    ctes = [
        r"""t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
      FROM documents
    )""",
        """adj AS (
      SELECT toks[i] AS a, toks[i + 1] AS b
      FROM t, UNNEST(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2
    )""",
        f"""vocab AS (
      SELECT tok FROM t, UNNEST(toks) AS u(tok)
      GROUP BY tok HAVING count(*) >= {_TR_MIN_DF}
    )""",
        """e AS (
      SELECT DISTINCT a AS src, b AS dst FROM adj
      WHERE a <> b AND a IN (SELECT tok FROM vocab)
        AND b IN (SELECT tok FROM vocab)
      UNION
      SELECT DISTINCT b, a FROM adj
      WHERE a <> b AND a IN (SELECT tok FROM vocab)
        AND b IN (SELECT tok FROM vocab)
    )""",
        "v AS (SELECT tok AS id FROM vocab)",
        "deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src)",
        "nv AS (SELECT count(*) AS n FROM v)",
        "r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM v)",
    ]
    for i in range(_TR_ITERS):
        ctes.append(
            f"d{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM r{i} "
            "WHERE id NOT IN (SELECT src FROM deg))"
        )
        ctes.append(
            f"r{i + 1} AS (SELECT v.id, CAST(150000 + (85 * (coalesce(s.in_sum, 0) "
            f"+ (SELECT dm FROM d{i}) // (SELECT n FROM nv))) // 100 AS BIGINT) AS rank "
            "FROM v LEFT JOIN (SELECT e.dst AS id, sum(r.rank // deg.out_deg) AS in_sum "
            f"FROM e JOIN r{i} r ON e.src = r.id JOIN deg ON e.src = deg.src "
            "GROUP BY e.dst) s ON v.id = s.id)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id AS token, rank AS rank_micros "
        f"FROM r{_TR_ITERS} ORDER BY rank_micros DESC, token LIMIT {_TR_TOPK}"
    )


@query("textrank_keywords_documents", _textrank_sql())
def textrank_keywords_documents(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004): undirected
    window-1 co-occurrence graph over the df-pruned vocabulary, ranked
    by the INTEGER fixed-point PageRank kernel
    (``analytics.algos.pagerank_fixed``) — every iteration is exact
    64-bit arithmetic, so the unrolled-CTE oracle replays it
    bit-for-bit. Graph build is two shuffles (adjacency count +
    vocabulary df); each PR iteration is one join+agg shuffle with the
    dangling mass as an in-plan 1-row broadcast."""
    from vmware_graph_spark.analytics.algos import pagerank_fixed

    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("toks"),
    )
    # Pin the vocabulary: it feeds two broadcast filters on the edge
    # build AND the vertex set, and each reference otherwise re-runs
    # the corpus-wide explode+aggregate (3 computes per reference
    # chain before pagerank_fixed even starts iterating).
    from vmware_graph_spark.operators.pin import pinned

    vocab = pinned(
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= _TR_MIN_DF)
        .select("tok")
    )
    adj = (
        t.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] as a, toks[i + 1] as b))"
                )
            ).alias("p")
        )
        .select("p.*")
        .filter(F.col("a") != F.col("b"))
    )
    va = vocab.select(F.col("tok").alias("a"))
    vb = vocab.select(F.col("tok").alias("b"))
    fwd = adj.join(F.broadcast(va), "a").join(F.broadcast(vb), "b")
    # Symmetrize in ONE pass over fwd (explode both directions per
    # row) instead of a two-branch union that executes the adjacency
    # explode + vocabulary joins twice. Identical row multiset.
    edges = (
        fwd.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    vertices = vocab.select(F.col("tok").alias("id"))
    ranks = pagerank_fixed(vertices, edges, iters=_TR_ITERS)
    return (
        ranks.select(F.col("id").alias("token"), "rank_micros")
        .orderBy(F.desc("rank_micros"), "token")
        .limit(_TR_TOPK)
    )
