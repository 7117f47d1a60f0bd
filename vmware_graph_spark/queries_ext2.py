"""Round-4 extensions: duplicate-span removal (ExactSubstr-style),
frozen-merge BPE application, z-order layout keys, deterministic
random-walk corpus generation, and tokenizer OOV auditing.

Same registry/oracle discipline as ``queries.py``: identical aliases on
both sides, md5 as the only hash, exact integer/decimal arithmetic
anywhere parallel fold order could move a double's low bits.

Scale notes (100 TB):

- ``dup_span_removal_documents`` is the distributed counterpart of the
  suffix-array ExactSubstr dedup of Lee et al. (2022), at k-token-gram
  resolution: one gram-hash shuffle for document frequency (the same
  shape as ``shared_ngram_fraction_documents``), one join back to the
  sparse duplicated positions, and per-doc windows over only those
  positions. Nothing is quadratic in corpus size; span masks stream
  back as arrays that never exceed tokens/k entries.
- ``bpe_apply_pieces`` runs on the DISTINCT token vocabulary, not the
  corpus (apply-side BPE is vocabulary-sized work + a broadcast-join
  back to the corpus when needed); each merge rule is a literal
  ``replace`` — pure codegen, no UDF, no loop state.
- ``zorder_curve_orders`` computes the interleaved z-value as unrolled
  integer bit arithmetic (codegen-friendly, no UDF) — the key a
  ``repartitionByRange`` + sortWithinPartitions layout job orders by so
  min/max row-group stats prune BOTH dimensions at scan time.
- ``random_walks_parts`` unrolls a fixed walk length; each step is one
  equi-join frontier→edges plus one per-frontier-node window min.
  Frontier size never grows (one row per walk), so k steps cost k
  bounded shuffles — the standard distributed walk-corpus shape
  (DeepWalk/node2vec generation), made deterministic by hashing the
  (node, step, candidate) triple instead of drawing randoms.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from vmware_graph_spark.queries import query
from vmware_graph_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Duplicate-span removal (ExactSubstr at k-gram resolution)
# ---------------------------------------------------------------------------

_SPAN_K = 5  # span resolution: duplicated runs shorter than K tokens are kept

_DUP_SPAN_SQL = rf"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
      FROM documents
    ), dn AS (
      SELECT doc_id, toks, len(toks) AS n FROM d
    ), grams AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(toks, i + 1, i + {_SPAN_K}), ' ')) AS g
      FROM dn, UNNEST(range(0, n - {_SPAN_K} + 1)) AS u(i)
      WHERE n >= {_SPAN_K}
    ), dupg AS (
      SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT doc_id, pos, pos + {_SPAN_K} - 1 AS e
      FROM grams JOIN dupg USING (g)
    ), marked AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS ni
      FROM hits
    ), isl AS (
      SELECT doc_id, pos, e,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
      FROM marked
    ), spans AS (
      SELECT doc_id, iid, min(pos) AS s, max(e) AS e
      FROM isl GROUP BY doc_id, iid
    ), span_agg AS (
      SELECT doc_id, count(*) AS dup_spans, sum(e - s + 1) AS dup_tokens
      FROM spans GROUP BY doc_id
    ), posn AS (
      SELECT doc_id, p, toks[p + 1] AS tok FROM dn, UNNEST(range(0, n)) AS u(p)
    ), cov AS (
      SELECT DISTINCT spans.doc_id, c.cp
      FROM spans, UNNEST(range(spans.s, spans.e + 1)) AS c(cp)
    ), kept AS (
      SELECT posn.doc_id, posn.p, posn.tok
      FROM posn LEFT JOIN cov ON posn.doc_id = cov.doc_id AND posn.p = cov.cp
      WHERE cov.cp IS NULL
    ), clean AS (
      SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY p)) AS clean_hash
      FROM kept GROUP BY doc_id
    )
    SELECT dn.doc_id,
           n AS n_tok,
           CAST(coalesce(sa.dup_spans, 0) AS BIGINT) AS dup_spans,
           CAST(coalesce(sa.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           coalesce(clean.clean_hash, md5('')) AS clean_hash
    FROM dn
    LEFT JOIN span_agg sa ON dn.doc_id = sa.doc_id
    LEFT JOIN clean ON dn.doc_id = clean.doc_id
"""


@query("dup_span_removal_documents", _DUP_SPAN_SQL)
def dup_span_removal_documents(spark, sf_dir):
    """Repeated-span masking à la ExactSubstr (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"), distributed: any run of
    >= K consecutive tokens appearing in >= 2 documents is a duplicated
    span; overlapping spans coalesce into islands, and the cleaned
    document keeps only uncovered tokens. The reference engine has no
    text surface (refresh-vmware.cypher is pure graph ETL) — this is
    north-star scope. One gram-df shuffle + one sparse join; the span
    mask is per-doc window work over duplicated positions only."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("toks"),
        )
        .withColumn("n", F.size("toks"))
    )
    grams = d.filter(F.col("n") >= _SPAN_K).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, n - {_SPAN_K}),"
                f" i -> md5(concat_ws(' ', slice(toks, i + 1, {_SPAN_K}))))"
            )
        ).alias("pos", "g"),
    )
    # Pin the gram table: it feeds BOTH the duplicated-gram aggregate
    # (broadcast side) and the hits probe side; the branches
    # canonicalize differently so no exchange reuse fires and the
    # tokenize + per-gram md5 Generate executed twice per run (final
    # adaptive plan, plans/r12/dup_span_removal_documents_*.txt).
    # Eager for the same concurrent-stage reason as the LSH bucket pin.
    from vmware_graph_spark.operators.pin import pinned

    grams = pinned(grams)
    dupg = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("g")
    )
    hits = grams.join(dupg, "g").select(
        "doc_id", "pos", (F.col("pos") + _SPAN_K - 1).alias("e")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = hits.withColumn(
        "ni", (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    )
    isl = marked.withColumn(
        "iid", F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = isl.groupBy("doc_id", "iid").agg(
        F.min("pos").alias("s"), F.max("e").alias("e")
    )
    islands = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("islands"),
        F.count("*").alias("dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
    )
    out = d.join(islands, "doc_id", "left").withColumn(
        "islands", F.coalesce("islands", F.expr("array()"))
    )
    kept = F.expr(
        "filter(sequence(0, n - 1),"
        " p -> NOT exists(islands, x -> p >= x.s AND p <= x.e))"
    )
    return (
        out.withColumn("kept", kept)
        .select(
            "doc_id",
            F.col("n").alias("n_tok"),
            F.coalesce("dup_spans", F.lit(0)).cast("bigint").alias("dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.md5(F.concat_ws(" ", F.expr("transform(kept, p -> toks[p])"))).alias(
                "clean_hash"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Frozen-merge BPE application over the corpus vocabulary
# ---------------------------------------------------------------------------

# Merge table in rank order (the artifact BPE *training* produces; see
# bpe_pair_counts for the training-side statistic). Each rule merges one
# adjacent symbol pair; applying rules in rank order over a
# space-separated symbol string IS the BPE apply step.
_BPE_MERGES = [
    ("a", "n"),
    ("r", "o"),
    ("s", "c"),
    ("sc", "an"),
    ("v", "a"),
    ("va", "l"),
    ("val", "u"),
    ("valu", "e"),
    ("t", "a"),
    ("ta", "b"),
    ("tab", "l"),
    ("tabl", "e"),
]


def _bpe_sql_expr(spaced: str) -> str:
    """Nested-replace BPE apply over ``spaced`` (a ``' a b c '``
    boundary-guarded symbol string; the char-splitting differs per
    dialect, the merge cascade below is dialect-neutral). Each rule runs
    TWO replace passes: ``replace`` is left-to-right non-overlapping, so
    a chain ``x y x y`` leaves the second pair unmerged in one pass (the
    matched trailing space is consumed); the second pass catches it.
    Symbols in this vocabulary repeat at most a handful of times, and
    both engines share the exact replace semantics, so the oracle twin
    is equal by construction."""
    s = spaced
    for x, y in _BPE_MERGES:
        for _ in range(2):
            s = f"replace({s}, ' {x} {y} ', ' {x}{y} ')"
    return s


# chars → "a b c" with guard spaces; regexp_replace is replace-all in
# Spark by default and needs the 'g' flag in DuckDB.
_SPACED_SPARK = "(' ' || trim(regexp_replace(tok, '(.)', '$1 ')) || ' ')"
_SPACED_DUCK = r"(' ' || trim(regexp_replace(tok, '(.)', '\1 ', 'g')) || ' ')"


@query(
    "bpe_apply_pieces",
    rf"""
    WITH vocab AS (
      SELECT DISTINCT unnest(
        list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
      FROM documents
    ), seg AS (
      SELECT tok, trim({_bpe_sql_expr(_SPACED_DUCK)}) AS pieces
      FROM vocab
    )
    SELECT tok, pieces,
           CAST(len(string_split(pieces, ' ')) AS INT) AS n_pieces
    FROM seg
    """,
)
def bpe_apply_pieces(spark, sf_dir):
    """BPE tokenizer APPLY step with a frozen merge table: every distinct
    corpus token is exploded to characters and the ranked merge rules are
    applied as literal ``replace`` passes — zero UDFs, pure codegen, and
    vocabulary-sized (apply work never rescans the corpus; joining the
    segmentation back is a broadcast). Pairs with ``bpe_pair_counts``,
    which computes the training-side pair statistic."""
    d = load_table(spark, sf_dir, "documents")
    vocab = d.select(
        F.explode(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("tok")
    ).distinct()
    seg = vocab.withColumn("pieces", F.expr(f"trim({_bpe_sql_expr(_SPACED_SPARK)})"))
    return seg.select(
        "tok",
        "pieces",
        F.size(F.split("pieces", " ")).cast("int").alias("n_pieces"),
    )


# ---------------------------------------------------------------------------
# Z-order curve keys for multidimensional data layout
# ---------------------------------------------------------------------------

def _zkey_expr(x: str, y: str) -> str:
    """16+16-bit Morton interleave as unrolled integer arithmetic — the
    identical expression string runs on Spark SQL and DuckDB."""
    terms = []
    for i in range(16):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


_ZX = "(o_custkey % 65536)"
# ((d % m) + m) % m keeps the lane non-negative even for pre-epoch dates
# (signed % keeps the dividend's sign in both engines; >> on a negative
# is arithmetic shift — avoided entirely by normalizing here).
_ZY = "(((datediff('day', TIMESTAMP '1992-01-01', o_orderdate) % 65536) + 65536) % 65536)"
_ZY_SPARK = "(((datediff(o_orderdate, TIMESTAMP '1992-01-01') % 65536) + 65536) % 65536)"


@query(
    "zorder_curve_orders",
    f"""
    SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           {_zkey_expr(_ZX, _ZY)} AS zkey
    FROM orders
    ORDER BY zkey, o_orderkey
    LIMIT 100
    """,
)
def zorder_curve_orders(spark, sf_dir):
    """Z-order (Morton) layout keys over (customer, order-date): the sort
    key a clustering/compaction job orders files by so parquet row-group
    min/max stats prune BOTH dimensions at scan time — the open-source
    equivalent of Delta/Iceberg Z-ORDER BY, computed as unrolled bit
    arithmetic (no UDF). The query range-partitions by zkey exactly as
    the layout job would (RangePartitioning asserted in
    tests/test_plans.py) and returns the curve's leading rows."""
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        F.expr(_zkey_expr(_ZX, _ZY_SPARK)).alias("zkey"),
    )
    laid_out = keyed.repartitionByRange(8, "zkey").sortWithinPartitions(
        "zkey", "o_orderkey"
    )
    return laid_out.orderBy("zkey", "o_orderkey").limit(100)


# ---------------------------------------------------------------------------
# Deterministic random-walk corpus over the part co-occurrence graph
# ---------------------------------------------------------------------------

_WALK_STEPS = 3

_COOC_SQL = """
    cooc AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    )
"""


def _walk_step_sql(prev: str, step: int) -> str:
    return f"""
    s{step} AS (
      SELECT walk_id, cur, nxt FROM (
        SELECT p.walk_id, p.cur, c.dst AS nxt,
               row_number() OVER (
                 PARTITION BY p.walk_id
                 ORDER BY md5(CAST(p.cur AS VARCHAR) || ':{step}:' || CAST(c.dst AS VARCHAR)), c.dst
               ) AS rn
        FROM {prev} p JOIN cooc c ON p.cur = c.src
      ) WHERE rn = 1
    )
"""


@query(
    "random_walks_parts",
    f"""
    WITH {_COOC_SQL},
    s0 AS (
      SELECT src AS walk_id, src AS cur FROM (SELECT DISTINCT src FROM cooc) t
      WHERE src % 100 = 0
    ),
    {_walk_step_sql('s0', 1)},
    {_walk_step_sql('(SELECT walk_id, nxt AS cur FROM s1)', 2)},
    {_walk_step_sql('(SELECT walk_id, nxt AS cur FROM s2)', 3)}
    SELECT s0.walk_id,
           concat_ws('>', CAST(s0.cur AS VARCHAR), CAST(s1.nxt AS VARCHAR),
                     CAST(s2.nxt AS VARCHAR), CAST(s3.nxt AS VARCHAR)) AS walk
    FROM s0
    LEFT JOIN s1 ON s0.walk_id = s1.walk_id
    LEFT JOIN s2 ON s0.walk_id = s2.walk_id
    LEFT JOIN s3 ON s0.walk_id = s3.walk_id
    """,
)
def random_walks_parts(spark, sf_dir):
    """Walk-corpus generation (the DeepWalk/node2vec input stage) over
    the part co-occurrence graph, made fully deterministic: at each step
    the walker moves to ``argmin md5(cur:step:candidate)`` — a hash in
    place of a random draw, so the corpus is reproducible across runs
    and engines. Each of the fixed {_WALK_STEPS} steps is one
    frontier⋈edges equi-join plus a per-walk window min; the frontier
    stays one row per walk, so cost is steps × bounded shuffles. Hub
    fan-out in the candidate join is bounded by the co-occurrence
    degree; the production path reuses the adamic_adar hub cap."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    b = li.withColumnRenamed("l_partkey", "dst")
    cooc = (
        li.join(b, "l_orderkey")
        .filter(F.col("l_partkey") != F.col("dst"))
        .select(F.col("l_partkey").alias("src"), "dst")
        .distinct()
    )
    starts = (
        cooc.select("src")
        .distinct()
        .filter(F.col("src") % 100 == 0)
        .select(F.col("src").alias("walk_id"), F.col("src").alias("cur"))
    )

    def step(frontier, n):
        # frontier and cooc both descend from lineitem — alias both sides
        # so the self-join lineage stays unambiguous.
        cand = frontier.alias("f").join(
            cooc.alias("c"), F.col("f.cur") == F.col("c.src")
        ).select(
            F.col("f.walk_id").alias("walk_id"),
            F.col("f.cur").alias("cur"),
            F.col("c.dst").alias("nxt"),
            F.md5(
                F.concat_ws(
                    "", F.col("f.cur").cast("string"), F.lit(f":{n}:"),
                    F.col("c.dst").cast("string"),
                )
            ).alias("h"),
        )
        w = Window.partitionBy("walk_id").orderBy("h", "nxt")
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("walk_id", "cur", "nxt")
        )

    s1 = step(starts, 1)
    s2 = step(s1.select("walk_id", F.col("nxt").alias("cur")), 2)
    s3 = step(s2.select("walk_id", F.col("nxt").alias("cur")), 3)
    out = (
        starts.select("walk_id", F.col("cur").alias("n0"))
        .join(s1.select("walk_id", F.col("nxt").alias("n1")), "walk_id", "left")
        .join(s2.select("walk_id", F.col("nxt").alias("n2")), "walk_id", "left")
        .join(s3.select("walk_id", F.col("nxt").alias("n3")), "walk_id", "left")
    )
    return out.select(
        "walk_id",
        F.concat_ws(
            ">",
            F.col("n0").cast("string"),
            F.col("n1").cast("string"),
            F.col("n2").cast("string"),
            F.col("n3").cast("string"),
        ).alias("walk"),
    )


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage audit (OOV rate per source)
# ---------------------------------------------------------------------------

_OOV_VOCAB = (
    "the", "a", "key", "value", "table", "row", "scan", "fast", "slow",
    "data", "query", "join", "agg", "part", "batch", "merge", "window",
)


@query(
    "oov_rate_by_source",
    f"""
    WITH t AS (
      SELECT source, unnest(
        list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
      FROM documents
    )
    SELECT source,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN tok NOT IN {tuple(_OOV_VOCAB)} THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(CAST(sum(CASE WHEN tok NOT IN {tuple(_OOV_VOCAB)} THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS oov_rate
    FROM t
    GROUP BY source
    """,
)
def oov_rate_by_source(spark, sf_dir):
    """Tokenizer-vocabulary coverage audit: per corpus source, the
    fraction of whitespace tokens outside a frozen vocabulary — the
    gate that catches a corpus slice the tokenizer was never trained
    on before it poisons training. One explode + one hash agg; the
    vocabulary is a broadcast literal (an isin against a set, never a
    join)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("tok"),
    )
    oov = (~F.col("tok").isin(*_OOV_VOCAB)).cast("int")
    return toks.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        F.round(F.sum(oov) / F.count("*"), 6).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer TRAINING: unrolled merge rounds over the weighted vocab
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3


def _bpe_round_sql(seg: str, r: int) -> str:
    """One training round: weighted adjacent-pair counts over the current
    segmentation, argmax pair (count desc, lexicographic tie-break), then
    the two-pass boundary-guarded replace that applies it."""
    return f"""
    pairs{r} AS (
      SELECT syms[i] AS x, syms[i + 1] AS y, CAST(sum(f) AS BIGINT) AS cnt
      FROM (SELECT f, string_split(trim(s), ' ') AS syms FROM {seg}) t,
           UNNEST(range(1, len(syms))) AS u(i)
      GROUP BY syms[i], syms[i + 1]
    ),
    win{r} AS (
      SELECT x, y, cnt FROM pairs{r} ORDER BY cnt DESC, x, y LIMIT 1
    ),
    seg{r} AS (
      SELECT token, f,
             replace(replace(s, ' ' || x || ' ' || y || ' ', ' ' || x || y || ' '),
                     ' ' || x || ' ' || y || ' ', ' ' || x || y || ' ') AS s
      FROM {seg}, win{r}
    )
"""


@query(
    "bpe_train_merges",
    rf"""
    WITH vocab AS (
      SELECT tok AS token, CAST(count(*) AS BIGINT) AS f
      FROM (
        SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        FROM documents
      ) t GROUP BY tok
    ),
    seg0 AS (
      SELECT token, f,
             (' ' || trim(regexp_replace(token, '(.)', '\1 ', 'g')) || ' ') AS s
      FROM vocab
    ),
    {_bpe_round_sql('seg0', 1)},
    {_bpe_round_sql('seg1', 2)},
    {_bpe_round_sql('seg2', 3)}
    SELECT 1 AS round, x AS merge_x, y AS merge_y, cnt AS pair_count FROM win1
    UNION ALL
    SELECT 2, x, y, cnt FROM win2
    UNION ALL
    SELECT 3, x, y, cnt FROM win3
    """,
)
def bpe_train_merges(spark, sf_dir):
    """BPE tokenizer TRAINING, unrolled: each round aggregates
    frequency-weighted adjacent-symbol pair counts over the current
    vocabulary segmentation, picks the argmax pair (deterministic
    lexicographic tie-break), and re-segments by applying the merge —
    exactly the Sennrich et al. training loop, with the per-round corpus
    statistic computed as ONE hash aggregation over the vocabulary (the
    corpus itself is never re-scanned after the initial frequency
    count: classic BPE trains on the word-frequency table). The learned
    (round, pair, count) table IS the merge artifact bpe_apply_pieces
    consumes. Scale: vocabulary-sized state, one shuffle per round, the
    1-row winner held on the driver (a bounded scalar — the repo's
    established convergence-probe convention) and inlined as literals
    into the re-segmentation.

    Plan shape (round 12, honest per-invocation timing): the base
    segmentation is localCheckpoint-pinned ONCE (the corpus explode +
    vocab agg never re-derives — without the pin the final plan scanned
    the corpus 7x and ran the pair-explode 14x across the union
    branches), and each round is exactly one job: the pair aggregation
    under the winner's limit(1) collect. The learned 3-row table is
    then a driver-local DataFrame, so nothing re-executes at the sink.
    An eager persist(DISK_ONLY)+count pin per winner was measured
    SLOWER honestly (2.1-2.8 s vs 1.48 s at sf0.1): its apparent win
    came from CacheManager block reuse across invocations, which the
    bench no longer permits. Cluster note (same contract as
    analytics/algos.py): swap localCheckpoint for reliable
    ``checkpoint()`` on shared storage off-box."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(
            F.explode(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias(
                "token"
            )
        )
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    seg = vocab.withColumn(
        "s", F.expr("' ' || trim(regexp_replace(token, '(.)', '$1 ')) || ' '")
    ).localCheckpoint(eager=True)

    out_rows = []
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = (
            seg.select(
                "f", F.expr("split(trim(s), ' ')").alias("syms")
            )
            .select(
                "f",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2),"
                        " i -> struct(syms[i] AS x, syms[i + 1] AS y))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.sum("f").cast("bigint").alias("cnt"))
        )
        won = pairs.orderBy(F.desc("cnt"), "x", "y").limit(1).collect()
        if not won:  # empty corpus: no pairs left to merge
            break
        w = won[0]
        out_rows.append((r, w.x, w.y, int(w.cnt)))
        pat = F.concat(F.lit(" "), F.lit(w.x), F.lit(" "), F.lit(w.y), F.lit(" "))
        rep = F.concat(F.lit(" "), F.lit(w.x), F.lit(w.y), F.lit(" "))
        seg = seg.withColumn(
            "s", F.replace(F.replace(F.col("s"), pat, rep), pat, rep)
        ).select("token", "f", "s")

    return spark.createDataFrame(
        out_rows, "round int, merge_x string, merge_y string, pair_count bigint"
    )


# ---------------------------------------------------------------------------
# Deterministic global corpus shuffle (training-order permutation)
# ---------------------------------------------------------------------------

_SHUFFLE_EPOCH = 7


@query(
    "global_shuffle_documents",
    f"""
    SELECT rank, doc_id, shuffle_key FROM (
      SELECT doc_id,
             md5('epoch-{_SHUFFLE_EPOCH}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
             row_number() OVER (ORDER BY md5('epoch-{_SHUFFLE_EPOCH}:' || CAST(doc_id AS VARCHAR)), doc_id) AS rank
      FROM documents
    ) t WHERE rank <= 100
    """,
)
def global_shuffle_documents(spark, sf_dir):
    """Deterministic epoch-seeded global shuffle — the training-order
    permutation step: every document gets ``md5(epoch:doc_id)`` as its
    shuffle key and the corpus is totally ordered by it. Reproducible
    across runs/engines (no rand()), re-seedable per epoch by changing
    one literal. At 100 TB the ORDER BY is a repartitionByRange on the
    key (sampled range bounds) + in-partition sort — the exact shape
    Spark's global sort already plans; the leading window here is only
    to emit a verifiable prefix."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(
            F.concat(F.lit(f"epoch-{_SHUFFLE_EPOCH}:"), F.col("doc_id").cast("string"))
        ).alias("shuffle_key"),
    )
    from pyspark.sql import Window as W

    w = W.orderBy("shuffle_key", "doc_id")
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 100)
        .select("rank", "doc_id", "shuffle_key")
    )


# ---------------------------------------------------------------------------
# k-anonymity governance audit
# ---------------------------------------------------------------------------

_K_ANON = 5


@query(
    "k_anonymity_audit_customers",
    f"""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             CAST(count(*) AS BIGINT) AS group_size
      FROM customer
      GROUP BY c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000) AS BIGINT)
    )
    SELECT c_nationkey, c_mktsegment, bal_bucket, group_size
    FROM cells WHERE group_size < {_K_ANON}
    """,
)
def k_anonymity_audit_customers(spark, sf_dir):
    """Training-data governance gate: quasi-identifier cells (nation ×
    segment × coarse balance bucket) whose population is below k={_K_ANON}
    — the groups a release would have to suppress or generalize.
    One hash aggregation; at 100 TB the quasi-identifier projection
    prunes to three columns at the scan."""
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_bucket"),
    ).agg(F.count("*").cast("bigint").alias("group_size"))
    return cells.filter(F.col("group_size") < _K_ANON)


# ---------------------------------------------------------------------------
# Theta-sketch set operations (KMV union / intersection estimates)
# ---------------------------------------------------------------------------

_KMV_K = 256
_HASH_SPACE_F = float(1 << 60)


@query(
    "kmv_set_ops_event_types",
    f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      FROM events WHERE user_id IS NOT NULL AND event_type IN ('view', 'click')
    ), kept AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed
      ) r WHERE rn <= {_KMV_K}
    ), theta AS (
      SELECT event_type,
             CASE WHEN count(*) < {_KMV_K} THEN {_HASH_SPACE_F} 
                  ELSE CAST(max(h) AS DOUBLE) END AS th
      FROM kept GROUP BY event_type
    ), tmin AS (
      SELECT min(th) AS th FROM theta
    ), uni AS (
      SELECT count(*) AS cnt FROM (SELECT DISTINCT h FROM kept) u, tmin
      WHERE CAST(u.h AS DOUBLE) < tmin.th
    ), inter AS (
      SELECT count(*) AS cnt FROM (
        SELECT h FROM kept GROUP BY h HAVING count(*) = 2
      ) i, tmin WHERE CAST(i.h AS DOUBLE) < tmin.th
    )
    SELECT 'view' AS type_a, 'click' AS type_b,
           CAST(round(uni.cnt * {_HASH_SPACE_F} / tmin.th) AS BIGINT) AS est_union,
           CAST(round(inter.cnt * {_HASH_SPACE_F} / tmin.th) AS BIGINT) AS est_intersection,
           round(CASE WHEN uni.cnt = 0 THEN 0.0
                      ELSE CAST(inter.cnt AS DOUBLE) / CAST(uni.cnt AS DOUBLE) END, 6) AS jaccard_est
    FROM uni, inter, tmin
    """,
)
def kmv_set_ops_event_types(spark, sf_dir):
    """Theta-sketch SET OPERATIONS over user audiences: KMV sketches of
    the 'view' and 'click' user sets are merged below the smaller theta
    to estimate union, intersection, and audience-overlap Jaccard —
    the mergeable-sketch algebra (Dasgupta et al., theta sketches) that
    answers overlap questions at 100 TB from k=256-row summaries
    instead of a distinct-join of the raw sets. All arithmetic is the
    module's md5-60-bit convention, so the estimate hash-matches the
    oracle. Note the Jaccard ratio divides the VALID sample counts
    (both scale by space/theta, which cancels)."""
    from vmware_graph_spark.functions.sketch import uniform_hash60

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isin("view", "click")
    )
    hashed = e.select(
        "event_type", uniform_hash60("user_id", 0).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    kept = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "h")
    )
    theta = kept.groupBy("event_type").agg(
        F.when(F.count("*") < _KMV_K, F.lit(_HASH_SPACE_F))
        .otherwise(F.max("h").cast("double"))
        .alias("th")
    )
    tmin = theta.agg(F.min("th").alias("th"))
    uni = (
        kept.select("h")
        .distinct()
        .crossJoin(F.broadcast(tmin))
        .filter(F.col("h").cast("double") < F.col("th"))
        .agg(F.count("*").alias("ucnt"))
    )
    inter = (
        kept.groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") == 2)
        .crossJoin(F.broadcast(tmin))
        .filter(F.col("h").cast("double") < F.col("th"))
        .agg(F.count("*").alias("icnt"))
    )
    return (
        uni.crossJoin(inter)
        .crossJoin(tmin)
        .select(
            F.lit("view").alias("type_a"),
            F.lit("click").alias("type_b"),
            F.round(F.col("ucnt") * _HASH_SPACE_F / F.col("th"))
            .cast("bigint")
            .alias("est_union"),
            F.round(F.col("icnt") * _HASH_SPACE_F / F.col("th"))
            .cast("bigint")
            .alias("est_intersection"),
            F.round(
                F.when(F.col("ucnt") == 0, F.lit(0.0)).otherwise(
                    F.col("icnt").cast("double") / F.col("ucnt").cast("double")
                ),
                6,
            ).alias("jaccard_est"),
        )
    )


# ---------------------------------------------------------------------------
# Leakage-free K-fold target encoding
# ---------------------------------------------------------------------------

_TE_FOLDS = 5


@query(
    "target_encode_mktsegment",
    f"""
    WITH folded AS (
      SELECT c_mktsegment,
             CAST('0x' || substr(md5('fold:' || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % {_TE_FOLDS} AS fold,
             CAST(c_acctbal AS DECIMAL(18,2)) AS y
      FROM customer
    ), cell AS (
      SELECT c_mktsegment, fold,
             CAST(count(*) AS BIGINT) AS n_in_fold,
             sum(y) AS s_in_fold
      FROM folded GROUP BY c_mktsegment, fold
    ), total AS (
      SELECT c_mktsegment,
             sum(n_in_fold) AS n_total, sum(s_in_fold) AS s_total
      FROM cell GROUP BY c_mktsegment
    )
    SELECT cell.c_mktsegment, fold, n_in_fold,
           round(CAST(s_total - s_in_fold AS DOUBLE) / (n_total - n_in_fold), 6) AS encoded_mean
    FROM cell JOIN total USING (c_mktsegment)
    """,
)
def target_encode_mktsegment(spark, sf_dir):
    """Leakage-free K-fold target encoding (the feature-engineering
    staple): each (category, fold) cell is encoded with the target mean
    computed from the OTHER folds — own-fold rows never see their own
    label. Folds are md5-deterministic (reproducible splits, no rand),
    sums are exact decimals so the out-of-fold mean hash-matches. One
    aggregation + one tiny join; at 100 TB the cell table is
    |categories|×K rows and broadcasts back onto the feature rows."""
    c = load_table(spark, sf_dir, "customer")
    fold_h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("fold:"), F.col("c_custkey").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    folded = c.select(
        "c_mktsegment",
        (fold_h % _TE_FOLDS).alias("fold"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("y"),
    )
    cell = folded.groupBy("c_mktsegment", "fold").agg(
        F.count("*").cast("bigint").alias("n_in_fold"),
        F.sum("y").alias("s_in_fold"),
    )
    total = cell.groupBy("c_mktsegment").agg(
        F.sum("n_in_fold").alias("n_total"), F.sum("s_in_fold").alias("s_total")
    )
    return cell.join(F.broadcast(total), "c_mktsegment").select(
        "c_mktsegment",
        "fold",
        "n_in_fold",
        F.round(
            (F.col("s_total") - F.col("s_in_fold")).cast("double")
            / (F.col("n_total") - F.col("n_in_fold")),
            6,
        ).alias("encoded_mean"),
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution (linear weights within a lookback window)
# ---------------------------------------------------------------------------

_ATTR_WINDOW_MIN = 60


@query(
    "multitouch_attribution_events",
    f"""
    WITH purchases AS (
      SELECT user_id, event_id AS pid, ts AS pts, value
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ), touches AS (
      SELECT user_id, event_type, ts FROM events
      WHERE event_type IN ('view', 'click')
    ), matched AS (
      SELECT p.pid, p.value, t.event_type
      FROM purchases p JOIN touches t
        ON p.user_id = t.user_id
       AND t.ts <= p.pts AND t.ts > p.pts - INTERVAL {_ATTR_WINDOW_MIN} MINUTE
    ), shares AS (
      SELECT pid, value, event_type,
             count(*) OVER (PARTITION BY pid) AS n_touches,
             count(*) AS touches_of_type
      FROM matched GROUP BY pid, value, event_type
    )
    SELECT event_type AS channel,
           CAST(sum(touches_of_type) AS BIGINT) AS n_touches,
           CAST(round(sum(CAST(round(value * touches_of_type / n_touches, 6) AS DECIMAL(18,6))), 4) AS DOUBLE) AS attributed_value
    FROM shares
    GROUP BY event_type
    """,
)
def multitouch_attribution_events(spark, sf_dir):
    """Linear multi-touch attribution: each purchase's value is split
    evenly across the user's view/click touchpoints in the preceding
    {_ATTR_WINDOW_MIN}-minute window, then rolled up per channel. The
    touch join is user-keyed with a bounded time band (state the
    streaming twin bounds by watermark); per-purchase shares are exact
    decimals accumulated so channel totals are fold-order-free."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select("user_id", F.col("event_id").alias("pid"), F.col("ts").alias("pts"), "value")
    touches = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "event_type", "ts"
    )
    matched = purchases.join(touches, "user_id").filter(
        (F.col("ts") <= F.col("pts"))
        & (F.col("ts") > F.col("pts") - F.expr(f"INTERVAL {_ATTR_WINDOW_MIN} MINUTE"))
    )
    per_type = matched.groupBy("pid", "value", "event_type").agg(
        F.count("*").alias("touches_of_type")
    )
    w = Window.partitionBy("pid")
    shares = per_type.withColumn(
        "n_touches", F.sum("touches_of_type").over(w)
    )
    return shares.groupBy(F.col("event_type").alias("channel")).agg(
        F.sum("touches_of_type").cast("bigint").alias("n_touches"),
        F.round(
            F.sum(
                F.round(
                    F.col("value") * F.col("touches_of_type") / F.col("n_touches"), 6
                ).cast("decimal(18,6)")
            ),
            4,
        )
        .cast("double")
        .alias("attributed_value"),
    )


# ---------------------------------------------------------------------------
# Motif pattern finder over the ingested graph
# ---------------------------------------------------------------------------

def _motif_sql():
    from vmware_graph_spark.queries import _HOST_BASE_SQL

    return f"""
    WITH h AS ({_HOST_BASE_SQL}),
    j AS (
      SELECT sk, cluster, uid,
             'host-' || sk || chr(31) || uid AS hkey,
             'VMware ESXi ' || (sk % 2 + 6) || '.0' AS esxver,
             CASE WHEN sk % 7 = 0 THEN NULL ELSE '2021-0' || (sk % 8 + 1) END AS biosdate
      FROM h WHERE sk % 11 <> 0
    )
    SELECT hkey AS h, cluster || chr(31) || uid AS c, esxver AS v
    FROM j WHERE biosdate IS NULL
    """


@query("motif_hosts_without_bios", None)
def motif_hosts_without_bios(spark, sf_dir):
    """Cypher-MATCH-style motif over the ingested graph through the
    ``motif_find`` pattern API: hosts with their cluster and ESX
    version, restricted by a NEGATED term to hosts lacking any
    BIOS_VERSION edge —
    ``(h)-[:MEMBER_OF_CLUSTER]->(c); (h)-[:IS_ESX_VERSION]->(v);
    !(h)-[:BIOS_VERSION]->()``. Typed terms prune to their rel_type
    before the join chain; the negation is a LEFT ANTI join, never a
    cartesian. This is the query class the reference writes as MATCH
    patterns (refresh-vmware.cypher:101-103,250)."""
    from vmware_graph_spark.analytics.motif import motif_find
    from vmware_graph_spark.ingest.stages import stage_vcluster, stage_vhost
    from vmware_graph_spark.queries import _vcluster_sheet, _vhost_sheet
    from vmware_graph_spark.store.graph import GraphStore

    store = GraphStore(spark, checkpoint=False)
    stage_vcluster(store, {"vCluster": _vcluster_sheet(spark, sf_dir)})
    stage_vhost(store, {"vHost": _vhost_sheet(spark, sf_dir)})
    return motif_find(
        store.edges(),
        "(h)-[:MEMBER_OF_CLUSTER]->(c); (h)-[:IS_ESX_VERSION]->(v);"
        " !(h)-[:BIOS_VERSION]->()",
        src_col="src_key",
        dst_col="dst_key",
    )


from vmware_graph_spark.queries import ORACLE as _ORACLE2  # noqa: E402

_ORACLE2["motif_hosts_without_bios"] = _motif_sql()


@query(
    "motif_varlength_ancestors",
    """
    WITH RECURSIVE e AS (
      SELECT c_custkey AS src, c_custkey // 10 AS dst FROM customer WHERE c_custkey >= 10
    ),
    tc(src, dst, dist) AS (
      SELECT src, dst, 1 FROM e
      UNION
      SELECT tc.src, e.dst, tc.dist + 1 FROM tc JOIN e ON tc.dst = e.src
    )
    SELECT src AS c, dst AS a, CAST(min(dist) AS INT) AS h
    FROM tc GROUP BY src, dst HAVING min(dist) BETWEEN 2 AND 4
    """,
)
def motif_varlength_ancestors(spark, sf_dir):
    """Variable-length path term in the motif API — Cypher's
    ``-[:PARENT*2..4]->`` Kleene class: ancestors 2-4 hops up the decimal
    custkey tree, the named edge var binding the minimum hop count.
    The bounded expansion is reachability-distinct (one equi-join +
    distinct per extension, never per-path enumeration); the oracle is
    the recursive CTE with the same hop bounds."""
    from vmware_graph_spark.analytics.motif import motif_find

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") >= 10)
    edges = c.select(
        F.col("c_custkey").alias("src"),
        (F.col("c_custkey") / 10).cast("bigint").alias("dst"),
        F.lit("PARENT").alias("rel_type"),
    )
    out = motif_find(edges, "(c)-[h:PARENT*2..4]->(a)")
    return out.select("c", "a", F.col("h").cast("int").alias("h"))


@query(
    "scc_functional_graph",
    """
    WITH RECURSIVE nodes AS (
      SELECT DISTINCT c_custkey % 500 AS v FROM customer
    ), e AS (
      SELECT v AS src, (7 * v + 3) % 500 AS dst FROM nodes
      WHERE (7 * v + 3) % 500 IN (SELECT v FROM nodes)
    ), tc(src, dst) AS (
      SELECT src, dst FROM e
      UNION
      SELECT tc.src, e.dst FROM tc JOIN e ON tc.dst = e.src
    ), mutual AS (
      SELECT a.src AS v, a.dst AS u FROM tc a JOIN tc b ON a.src = b.dst AND a.dst = b.src
    ), m AS (
      SELECT v, min(u) AS mu FROM mutual GROUP BY v
    )
    SELECT nodes.v AS id, least(nodes.v, coalesce(m.mu, nodes.v)) AS scc_id
    FROM nodes LEFT JOIN m ON nodes.v = m.v
    """,
)
def scc_functional_graph(spark, sf_dir):
    """Strongly connected components (GraphFrames SCC parity) over a
    rho-shaped functional graph (v → 7v+3 mod 500 on the custkey
    universe): tails label themselves, the cycles collapse to one
    min-vertex label each. Mutual reachability = doubling closure joined
    to its own reverse; verified against the recursive-CTE oracle."""
    from vmware_graph_spark.analytics.algos import strongly_connected_components

    c = load_table(spark, sf_dir, "customer")
    nodes = c.select((F.col("c_custkey") % 500).alias("v")).distinct()
    cand = nodes.select(
        F.col("v").alias("src"), ((F.col("v") * 7 + 3) % 500).alias("dst")
    )
    edges = cand.join(
        nodes.select(F.col("v").alias("dst")), "dst", "left_semi"
    ).select("src", "dst")
    return strongly_connected_components(edges)


# ---------------------------------------------------------------------------
# Streaming LEFT OUTER interval join (state-expiry-emitted null rows)
# ---------------------------------------------------------------------------

@query(
    "streaming_left_interval_join",
    """
    WITH v AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'view' AND user_id % 5 = 0
    ), c AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'click' AND user_id % 5 = 0
    )
    SELECT v.user_id,
           CAST(count(c.event_id) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN c.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_views
    FROM v LEFT JOIN c ON c.user_id = v.user_id
                      AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    GROUP BY v.user_id
    """,
)
def streaming_left_interval_join(spark, sf_dir):
    """REAL stream-stream LEFT OUTER interval join — the hard half of
    streaming joins: matched pairs emit immediately, but an UNMATCHED
    view can only emit its null row once the global watermark proves no
    click can still arrive inside the band, i.e. the null rows are
    state-EXPIRY output. Both sides run as time-ordered file streams
    with 0-second watermarks; a far-future sentinel in EACH stream
    advances the global watermark (min across sources) so every real
    view's band closes before the drain terminates — the
    drained-backfill pattern streaming_session_window_counts documents.
    Oracle: the batch LEFT band join."""
    from vmware_graph_spark.tmpcache import fresh_dir
    import uuid

    from vmware_graph_spark.queries_ext import _write_time_ordered_batches
    from vmware_graph_spark.streaming.events import read_event_stream

    path = fresh_dir("vgs_lsjoin_")
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    maxts = e.agg(F.max("ts").alias("m")).collect()[0]["m"]

    def sentinel():
        return spark.createDataFrame(
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

    views = e.filter(F.col("event_type") == "view")
    clicks = e.filter(F.col("event_type") == "click")
    _write_time_ordered_batches(spark, sf_dir, path + "/views", views, n=2, extra=sentinel())
    _write_time_ordered_batches(spark, sf_dir, path + "/clicks", clicks, n=2, extra=sentinel())

    v = (
        read_event_stream(spark, path + "/views")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("v_event_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "0 seconds")
    )
    c = (
        read_event_stream(spark, path + "/clicks")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("c_event_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "0 seconds")
    )
    pairs = v.join(
        c,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    name = "stream_ljoin_" + uuid.uuid4().hex[:8]
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
        .filter(F.col("v_user") >= 0)
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count("c_event_id").cast("bigint").alias("n_pairs"),
            F.sum(F.col("c_event_id").isNull().cast("int"))
            .cast("bigint")
            .alias("n_unmatched_views"),
        )
    )


# ---------------------------------------------------------------------------
# Recency-weighted (half-life decay) aggregates
# ---------------------------------------------------------------------------

@query(
    "time_decayed_value_by_user",
    """
    WITH mx AS (SELECT max(ts) AS m FROM events),
    aged AS (
      SELECT user_id,
             value * power(0.5, CAST(date_diff('day', CAST(ts AS DATE), CAST(m AS DATE)) AS INT)) AS w
      FROM events, mx WHERE value IS NOT NULL AND user_id % 7 = 0
    )
    SELECT user_id,
           CAST(round(sum(CAST(round(w, 6) AS DECIMAL(18,6))), 4) AS DOUBLE) AS decayed_value,
           CAST(count(*) AS BIGINT) AS n_events
    FROM aged GROUP BY user_id
    """,
)
def time_decayed_value_by_user(spark, sf_dir):
    """Recency-weighted user value with a 1-day half-life — the
    feature-engineering decay aggregate, made engine-exact: the weight
    ``0.5^age_days`` is a dyadic rational, so ``value * weight`` is a
    pure exponent shift with NO rounding (unlike ``exp(-λt)``, whose
    libm differs across engines); the per-row product rounds once and
    accumulates in decimals. The max-ts anchor is one scalar broadcast;
    the aggregate is a single hash shuffle."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("user_id") % 7 == 0)
    )
    mx = e.agg(F.max("ts").alias("m"))
    aged = e.crossJoin(F.broadcast(mx)).select(
        "user_id",
        (
            F.col("value")
            * F.pow(F.lit(0.5), F.datediff(F.col("m").cast("date"), F.col("ts").cast("date")).cast("int"))
        ).alias("w"),
    )
    return aged.groupBy("user_id").agg(
        F.round(F.sum(F.round("w", 6).cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("decayed_value"),
        F.count("*").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Behavioral diversity (Gini impurity of the event-type mix per user)
# ---------------------------------------------------------------------------

@query(
    "type_diversity_gini_by_user",
    """
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE user_id % 11 = 0 GROUP BY user_id, event_type
    ), n AS (
      SELECT user_id, sum(c) AS n, sum(c * c) AS ss FROM c GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           round(1.0 - CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS gini
    FROM n
    """,
)
def type_diversity_gini_by_user(spark, sf_dir):
    """Behavioral-diversity feature: Gini impurity ``1 - Σ pᵢ²`` of each
    user's event-type mix, computed from integer counts with a single
    final division — exactly reproducible, unlike entropy's ``p·ln p``
    (libm-dependent). Two stacked hash aggregations, no windows."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 11 == 0)
    c = e.groupBy("user_id", "event_type").agg(F.count("*").cast("bigint").alias("c"))
    n = c.groupBy("user_id").agg(
        F.sum("c").alias("n"), F.sum(F.col("c") * F.col("c")).alias("ss")
    )
    return n.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(
            F.lit(1.0) - F.col("ss").cast("double") / (F.col("n") * F.col("n")).cast("double"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# In-engine LSH recall evaluation against exact ground truth
# ---------------------------------------------------------------------------

def _lsh_recall_sql():
    from vmware_graph_spark.queries import _SH3_CTE, _h64_seeded

    return f"""
    WITH {_SH3_CTE},
    exact AS (
      SELECT id_a, id_b FROM (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
      ) p JOIN sizes sa ON sa.id = p.id_a JOIN sizes sb ON sb.id = p.id_b
      WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter) >= 0.4
    ),
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
    hit AS (SELECT * FROM exact JOIN cands USING (id_a, id_b))
    SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM cands) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
           round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 / (SELECT count(*) FROM exact), 6) AS recall
    """


@query("lsh_recall_vs_exact", None)
def lsh_recall_vs_exact(spark, sf_dir):
    """Dedup-quality evaluation IN the engine (the near-dup counterpart
    of ``ann_recall_bq_vs_exact``): candidate recall of MinHash-LSH
    banding against the exact >= 0.4-Jaccard pair set — the number you
    tune bands/rows against before a 100 TB run, computed from the same
    two kernels the production path uses (exact inverted-index pairs on
    the small tuning sample, banded candidates at scale). One row:
    exact pairs, LSH candidates, hits, recall."""
    from vmware_graph_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_candidates,
    )

    d = load_table(spark, sf_dir, "documents")
    exact = jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.4).select(
        "id_a", "id_b"
    )
    cands = minhash_lsh_candidates(d, "doc_id", "text", n=3, num_hashes=8, bands=4)
    hit = exact.join(cands, ["id_a", "id_b"])
    return (
        exact.agg(F.count("*").cast("bigint").alias("n_exact"))
        .crossJoin(cands.agg(F.count("*").cast("bigint").alias("n_candidates")))
        .crossJoin(hit.agg(F.count("*").cast("bigint").alias("n_hit")))
        .select(
            "n_exact",
            "n_candidates",
            "n_hit",
            F.round(F.col("n_hit").cast("double") / F.col("n_exact"), 6).alias(
                "recall"
            ),
        )
    )


from vmware_graph_spark.queries import ORACLE as _ORACLE3  # noqa: E402

_ORACLE3["lsh_recall_vs_exact"] = _lsh_recall_sql()


# ---------------------------------------------------------------------------
# Deterministic bootstrap confidence interval (hash-Poisson resampling)
# ---------------------------------------------------------------------------

_BOOT_B = 32
# Poisson(1) CDF thresholds for inverse-CDF sampling of multiplicities
_POIS = [0.367879, 0.735759, 0.919699, 0.981012, 0.996340, 0.999406]


def _pois_case(u: str) -> str:
    """Multiplicity = inverse Poisson(1) CDF at uniform ``u`` — the
    Poisson bootstrap's per-replicate weight, identical SQL both sides."""
    w = f"CASE WHEN {u} < {_POIS[0]} THEN 0"
    for k in range(1, len(_POIS)):
        w += f" WHEN {u} < {_POIS[k]} THEN {k}"
    return w + " ELSE 6 END"


_BOOT_U = (
    "(CAST('0x' || substr(md5(r || ':' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)"
    " / 1152921504606846976.0)"
)
_BOOT_U_SPARK = (
    "(conv(substring(md5(concat(r, ':', CAST(event_id AS STRING))), 1, 15), 16, 10)"
    " / 1152921504606846976.0)"
)


@query(
    "bootstrap_ci_mean_value",
    f"""
    WITH s AS (
      SELECT event_id, value FROM events
      WHERE value IS NOT NULL AND user_id % 3 = 0
    ), reps AS (
      SELECT r, sum(CAST(round(w * value, 6) AS DECIMAL(18,6))) AS sv,
             sum(w) AS sw
      FROM (
        SELECT value, r, {_pois_case(_BOOT_U)} AS w
        FROM s CROSS JOIN (SELECT unnest(range({_BOOT_B})) AS r)
      ) t GROUP BY r
    ), means AS (
      SELECT r, round(CAST(sv AS DOUBLE) / sw, 6) AS m,
             row_number() OVER (ORDER BY round(CAST(sv AS DOUBLE) / sw, 6), r) AS rk
      FROM reps WHERE sw > 0
    )
    SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n,
           (SELECT round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
                         / count(*), 6) FROM s) AS point_mean,
           (SELECT m FROM means WHERE rk = 2) AS ci_lo,
           (SELECT m FROM means WHERE rk = {_BOOT_B - 1}) AS ci_hi
    """,
)
def bootstrap_ci_mean_value(spark, sf_dir):
    """Error bars at scale: Poisson-bootstrap confidence interval for a
    mean, fully deterministic — each row's multiplicity in replicate r
    is the inverse Poisson(1) CDF at an md5 uniform (the Poisson
    bootstrap is THE distributed formulation: no global resample, each
    row independently weighted, one shuffle for all {_BOOT_B}
    replicates). The CI is the 2nd/31st order statistic of replicate
    means (~94% coverage at B=32). No rand(), so runs, engines, and
    retries agree bit-for-bit."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("user_id") % 3 == 0)
    )
    s = e.select("event_id", "value")
    reps = (
        s.crossJoin(F.broadcast(spark.range(_BOOT_B).select(F.col("id").alias("r"))))
        .withColumn("w", F.expr(_pois_case(_BOOT_U_SPARK)))
        .groupBy("r")
        .agg(
            F.sum(F.round(F.col("w") * F.col("value"), 6).cast("decimal(18,6)")).alias("sv"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select("r", F.round(F.col("sv").cast("double") / F.col("sw"), 6).alias("m"))
    )
    w = Window.orderBy("m", "r")
    ranked = reps.withColumn("rk", F.row_number().over(w))
    lo = ranked.filter(F.col("rk") == 2).select(F.col("m").alias("ci_lo"))
    hi = ranked.filter(F.col("rk") == _BOOT_B - 1).select(F.col("m").alias("ci_hi"))
    point = s.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(
            F.sum(F.round("value", 6).cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("point_mean"),
    )
    return point.crossJoin(lo).crossJoin(hi).select("n", "point_mean", "ci_lo", "ci_hi")


# ---------------------------------------------------------------------------
# Two-sample A/B z-test with hash-assigned cohorts
# ---------------------------------------------------------------------------

@query(
    "ab_test_value_by_cohort",
    """
    WITH assigned AS (
      SELECT CASE WHEN CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS cohort,
             value
      FROM events WHERE value IS NOT NULL AND event_type = 'purchase'
    ), m AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean,
             round(CAST(sum(CAST(round(value * value, 6) AS DECIMAL(24,6))) AS DOUBLE) / count(*), 6) AS m2
      FROM assigned GROUP BY cohort
    ), wide AS (
      SELECT max(CASE WHEN cohort = 'A' THEN n END) AS n_a,
             max(CASE WHEN cohort = 'B' THEN n END) AS n_b,
             max(CASE WHEN cohort = 'A' THEN mean END) AS mean_a,
             max(CASE WHEN cohort = 'B' THEN mean END) AS mean_b,
             max(CASE WHEN cohort = 'A' THEN m2 END) AS m2_a,
             max(CASE WHEN cohort = 'B' THEN m2 END) AS m2_b
      FROM m
    )
    SELECT n_a, n_b, mean_a, mean_b,
           round((mean_a - mean_b)
                 / sqrt((m2_a - mean_a * mean_a) / n_a + (m2_b - mean_b * mean_b) / n_b), 6) AS z_score
    FROM wide
    """,
)
def ab_test_value_by_cohort(spark, sf_dir):
    """Two-sample z-test over hash-assigned experiment cohorts: the
    md5 split is the reproducible experiment assignment
    (growth-stable like hash_split_documents), moments accumulate as
    exact decimals, and the z statistic's float path (subtract, divide,
    sqrt) is IEEE-correctly-rounded on both engines, so even the test
    statistic hash-matches. One aggregation + a 2-row pivot."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("event_type") == "purchase")
    )
    coh = F.when(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    m = (
        e.select(coh.alias("cohort"), "value")
        .groupBy("cohort")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(
                F.sum(F.round("value", 6).cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean"),
            F.round(
                F.sum(F.round(F.col("value") * F.col("value"), 6).cast("decimal(24,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("m2"),
        )
    )
    wide = m.groupBy().agg(
        F.max(F.when(F.col("cohort") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("cohort") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("cohort") == "A", F.col("mean"))).alias("mean_a"),
        F.max(F.when(F.col("cohort") == "B", F.col("mean"))).alias("mean_b"),
        F.max(F.when(F.col("cohort") == "A", F.col("m2"))).alias("m2_a"),
        F.max(F.when(F.col("cohort") == "B", F.col("m2"))).alias("m2_b"),
    )
    var_a = F.col("m2_a") - F.col("mean_a") * F.col("mean_a")
    var_b = F.col("m2_b") - F.col("mean_b") * F.col("mean_b")
    return wide.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        F.round(
            (F.col("mean_a") - F.col("mean_b"))
            / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b")),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Sequential pattern mining: top event-type trigram journeys
# ---------------------------------------------------------------------------

@query(
    "journey_trigrams_top",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY trigram
    ORDER BY n DESC, trigram
    LIMIT 20
    """,
)
def journey_trigrams_top(spark, sf_dir):
    """Sequential pattern mining over user journeys: corpus-wide top
    event-type trigrams from per-user time-ordered streams — two lead()
    frames in ONE window sort (never a self-join on adjacent rows),
    then a hash aggregate and a TakeOrderedAndProject top-k. The
    3-gram features feed next-event models; the 2-gram twin is
    event_transition_matrix."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Cross-source contamination matrix (pairwise n-gram leakage)
# ---------------------------------------------------------------------------

@query(
    "contamination_matrix_sources",
    r"""
    WITH toks AS (
      SELECT source, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ), grams AS (
      SELECT DISTINCT source,
             md5(array_to_string(list_slice(t, i, i + 3), ' ')) AS g
      FROM toks, UNNEST(range(1, len(t) - 2)) AS u(i)
      WHERE len(t) >= 4
    ), totals AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM grams GROUP BY source
    ), overlap AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
      FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, CAST(shared AS BIGINT) AS shared_grams,
           round(CAST(shared AS DOUBLE) / tb.n_grams, 6) AS frac_of_b
    FROM overlap JOIN totals tb ON tb.source = src_b
    WHERE shared >= 3
    """,
)
def contamination_matrix_sources(spark, sf_dir):
    """Pairwise cross-source contamination: for every source pair, how
    many distinct 4-token grams of B also occur in A (and the fraction
    of B's grams that leak) — the matrix that catches an eval slice
    contaminated by a training source before a split ships. One
    distinct-gram shuffle + one gram-keyed self-join whose fan-out is
    bounded by sources-per-gram (≤ |sources|, the natural hub cap);
    output is |sources|² max."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("t")
    )
    grams = (
        toks.filter(F.size("t") >= 4)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 3),"
                    " i -> md5(concat_ws(' ', slice(t, i, 4))))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    totals = grams.groupBy("source").agg(F.count("*").cast("bigint").alias("n_grams"))
    a = grams.alias("a")
    b = grams.alias("b")
    overlap = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 3)
    )
    return overlap.join(
        totals.select(F.col("source").alias("src_b"), "n_grams"), "src_b"
    ).select(
        "src_a",
        "src_b",
        F.col("shared").cast("bigint").alias("shared_grams"),
        F.round(F.col("shared").cast("double") / F.col("n_grams"), 6).alias("frac_of_b"),
    )


# ---------------------------------------------------------------------------
# Graph-store invariant audit: dangling edges
# ---------------------------------------------------------------------------

@query("graph_dangling_edges", None)
def graph_dangling_edges(spark, sf_dir):
    """Graph-store referential-integrity audit (the graph-side dual of
    ``dq_integrity_audit``): edges whose src or dst key has no vertex
    row — the invariant every ingest stage must preserve and the sweep
    must not break. A deliberately injected bogus edge proves the
    detector fires; the real store contributes zero rows. Two LEFT ANTI
    probes against the union of vertex keys, never a full materialized
    join."""
    from vmware_graph_spark.ingest.stages import stage_vcluster, stage_vhost
    from vmware_graph_spark.queries import _vcluster_sheet, _vhost_sheet
    from vmware_graph_spark.store.graph import GraphStore, LABEL_KEYS, node_key

    store = GraphStore(spark, checkpoint=False)
    stage_vcluster(store, {"vCluster": _vcluster_sheet(spark, sf_dir)})
    stage_vhost(store, {"vHost": _vhost_sheet(spark, sf_dir)})
    bogus = spark.createDataFrame(
        [
            ("Vspherehost", "host-999999\x1fvc-GHOST", "MEMBER_OF_CLUSTER",
             "Vcentercluster", "nowhere\x1fvc-GHOST"),
        ],
        ["src_label", "src_key", "rel_type", "dst_label", "dst_key"],
    )
    edges = store.edges().unionByName(bogus)
    keys = None
    for label in store.labels():
        v = store.vertices(label)
        k = v.select(
            F.lit(label).alias("label"), node_key(*LABEL_KEYS[label]).alias("key")
        )
        keys = k if keys is None else keys.unionByName(k)
    dang_src = edges.join(
        keys.select(F.col("label").alias("src_label"), F.col("key").alias("src_key")),
        ["src_label", "src_key"],
        "left_anti",
    ).select(F.lit("src").alias("end"), F.col("src_label").alias("label"), F.col("src_key").alias("key"), "rel_type")
    dang_dst = edges.join(
        keys.select(F.col("label").alias("dst_label"), F.col("key").alias("dst_key")),
        ["dst_label", "dst_key"],
        "left_anti",
    ).select(F.lit("dst").alias("end"), F.col("dst_label").alias("label"), F.col("dst_key").alias("key"), "rel_type")
    return dang_src.unionByName(dang_dst).distinct()


from vmware_graph_spark.queries import ORACLE as _ORACLE4  # noqa: E402

_ORACLE4["graph_dangling_edges"] = """
    SELECT 'src' AS "end", 'Vspherehost' AS label,
           'host-999999' || chr(31) || 'vc-GHOST' AS key,
           'MEMBER_OF_CLUSTER' AS rel_type
    UNION ALL
    SELECT 'dst', 'Vcentercluster', 'nowhere' || chr(31) || 'vc-GHOST',
           'MEMBER_OF_CLUSTER'
"""
