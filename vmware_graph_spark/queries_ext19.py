"""Round-4 extensions: leakage-safe dataset splitting, benchmark
decontamination, token-entropy quality, and sequence-packing planning.

The split/contamination family closes the loop the earlier dedup
operators opened: near-dup CLUSTERS (not documents) are the unit of
train/val/test assignment, cross-split near-dup leakage is measurable
as a query, and train docs colliding with a held-out benchmark on
word n-grams are flagged for removal — the three checks every
large-scale training-corpus build runs before a token is spent.

Same registry/oracle discipline as ``queries.py`` — every query here is
paired with a DuckDB ANSI-SQL twin and hash-matches it at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from vmware_graph_spark.queries import _NDP_PAIRS_CTE, _shingles, query
from vmware_graph_spark.sources.tables import load_table


def _split_case(key_expr: str) -> str:
    """80/10/10 split CASE over the engine-portable 60-bit hash of
    ``key_expr`` — DuckDB twin of functions.sketch.hash_split."""
    from vmware_graph_spark.functions.sketch import split_thresholds

    t1, t2 = split_thresholds((0.8, 0.1, 0.1))
    h = f"('0x' || substr(md5('0:' || CAST({key_expr} AS VARCHAR)), 1, 15))::BIGINT"
    return (
        f"CASE WHEN {h} < {t1} THEN 'train' "
        f"WHEN {h} < {t2} THEN 'val' ELSE 'test' END"
    )


@query(
    "leakage_safe_split_documents",
    f"""
    WITH RECURSIVE {_NDP_PAIRS_CTE},
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
      SELECT d.doc_id, coalesce(r.component, d.doc_id) AS component
      FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id
    )
    SELECT doc_id, component, {_split_case('component')} AS split FROM comp
    """,
)
def leakage_safe_split_documents(spark, sf_dir):
    """Near-dup-aware train/val/test split: the unit of assignment is
    the near-duplicate CLUSTER, not the document — every member of a
    cluster hashes to the same split (keyed on the cluster's canonical
    min-id representative), so a near-duplicate of a test document can
    never sit in train. Plain key-hash splits (``hash_split_documents``)
    lack exactly this property; ``split_leakage_audit`` measures how
    often it bites.

    Pipeline: MinHash→LSH bands→verified Jaccard pairs →
    large-star/small-star CC → ``hash_split`` on the component id.
    Scale: the pair graph is LSH-sparse (never all-pairs), star CC is
    O(log n) rounds, and the split itself is a zero-shuffle projection
    on the component key."""
    from vmware_graph_spark.analytics.algos import connected_components
    from vmware_graph_spark.functions.sketch import hash_split
    from vmware_graph_spark.operators.dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, bands=4, verify_threshold=0.4
    )
    cc = connected_components(
        d.select(F.col("doc_id").alias("id")),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
    )
    comp = cc.select(F.col("id").alias("doc_id"), "component")
    return hash_split(comp, "component").select("doc_id", "component", "split")


@query(
    "split_leakage_audit",
    f"""
    WITH {_NDP_PAIRS_CTE},
    tagged AS (
      SELECT least({_split_case('p.id_a')}, {_split_case('p.id_b')}) AS split_a,
             greatest({_split_case('p.id_a')}, {_split_case('p.id_b')}) AS split_b
      FROM pairs p
    )
    SELECT split_a, split_b, count(*) AS n_pairs,
           CAST(split_a <> split_b AS BOOLEAN) AS crosses_split
    FROM tagged GROUP BY split_a, split_b
    """,
)
def split_leakage_audit(spark, sf_dir):
    """Measures the leakage a naive per-document hash split produces:
    every verified near-dup pair is tagged with its endpoints' 80/10/10
    ``hash_split`` assignments (keyed on doc_id, the naive scheme), and
    pairs whose endpoints land in DIFFERENT splits are train/test
    contamination. The (split_a, split_b, n_pairs) rollup is the audit
    a corpus build runs to justify cluster-keyed splitting
    (``leakage_safe_split_documents``, where this count is zero by
    construction). One broadcast-size join onto the LSH-sparse pair
    table — cost is the dedup pipeline itself."""
    from vmware_graph_spark.functions.sketch import hash_split
    from vmware_graph_spark.operators.dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, bands=4, verify_threshold=0.4
    )
    splits = hash_split(d.select("doc_id"), "doc_id").select("doc_id", "split")
    sa = splits.withColumnRenamed("doc_id", "id_a").withColumnRenamed("split", "sa")
    sb = splits.withColumnRenamed("doc_id", "id_b").withColumnRenamed("split", "sb")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_pairs"))
        .withColumn("crosses_split", F.col("split_a") != F.col("split_b"))
    )


@query(
    "decontaminate_against_heldout",
    f"""
    WITH g AS (
      SELECT doc_id, source, unnest({_shingles('text', 5)}) AS gram
      FROM documents
    ),
    heldout AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
    bad AS (
      SELECT DISTINCT g.doc_id FROM g
      JOIN heldout h ON g.gram = h.gram
      WHERE g.source <> 'src0'
    )
    SELECT d.doc_id, d.source,
           CAST(b.doc_id IS NOT NULL AS BOOLEAN) AS contaminated
    FROM documents d LEFT JOIN bad b ON d.doc_id = b.doc_id
    WHERE d.source <> 'src0'
    """,
)
def decontaminate_against_heldout(spark, sf_dir):
    """Benchmark decontamination by n-gram collision (the GPT-3/PaLM
    recipe): treating ``source = 'src0'`` as the held-out eval set,
    every other document sharing ANY word 5-gram with it is flagged
    ``contaminated`` — the rows a corpus build drops before training so
    eval numbers aren't memorization. Per-doc verdicts (not just
    counts) so the removal set is directly joinable.

    Scale shape: grams build scan-side (sequence+transform, JVM-side),
    the held-out gram set is distinct-reduced BEFORE the join (eval
    benchmarks are tiny next to the corpus — at 100 TB this side
    broadcasts), and the flag is one semi-join per train doc; nothing
    all-pairs, nothing global."""
    from vmware_graph_spark.functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents")
    g = d.select(
        "doc_id", "source", F.explode(word_shingles("text", 5)).alias("gram")
    )
    heldout = g.filter(F.col("source") == "src0").select("gram").distinct()
    bad = (
        g.filter(F.col("source") != "src0")
        .join(F.broadcast(heldout), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__bad", F.lit(True))
    )
    return (
        d.filter(F.col("source") != "src0")
        .select("doc_id", "source")
        .join(bad, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("__bad", F.lit(False)).alias("contaminated"),
        )
    )


@query(
    "token_entropy_quality",
    r"""
    WITH t AS (
      SELECT doc_id, source, unnest(list_filter(string_split_regex(text, '\s+'),
                                                x -> x <> '')) AS tok
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, source, tok, CAST(count(*) AS BIGINT) AS c
      FROM t GROUP BY doc_id, source, tok
    ),
    ent AS (
      SELECT doc_id, source,
             CAST(sum(c) AS BIGINT) AS n_tok,
             round(log2(sum(c))
                   - CAST(sum(round(c * log2(c), 10)::DECIMAL(28,10)) AS DOUBLE)
                     / sum(c), 6) AS entropy
      FROM cnt GROUP BY doc_id, source
    )
    SELECT doc_id, source, n_tok, entropy,
           CAST(entropy < 3.5 AS BOOLEAN) AS low_entropy
    FROM ent
    """,
)
def token_entropy_quality(spark, sf_dir):
    """Shannon entropy of each document's token distribution — the
    classic repetitiveness gate: boilerplate, keyword-stuffed, and
    template pages score low while natural prose scores near
    log2(vocab). Computed as ``log2(n) − Σ c·log2(c) / n`` so the only
    transcendental calls take small INTEGER counts (same shape both
    engines; round-6 like the tf-idf/bm25 idf terms). Flags
    ``entropy < 3.5`` as ``low_entropy``.

    Two linear shuffles — (doc, token) count then per-doc fold — both
    partitioned by doc_id; no vocabulary-global state anywhere."""
    from vmware_graph_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", F.explode(tokens("text")).alias("tok"))
    cnt = t.groupBy("doc_id", "source", "tok").agg(
        F.count("*").cast("bigint").alias("c")
    )
    # per-token terms rounded → decimal → EXACT order-independent sum
    # (the bm25/tf-idf float-determinism discipline: double SUMs are
    # partition-order dependent; decimal SUMs are not)
    term = F.round(F.col("c") * F.log2("c"), 10).cast("decimal(28,10)")
    ent = cnt.groupBy("doc_id", "source").agg(
        F.sum("c").cast("bigint").alias("n_tok"),
        F.round(
            F.log2(F.sum("c")) - F.sum(term).cast("double") / F.sum("c"), 6
        ).alias("entropy"),
    )
    return ent.select(
        "doc_id",
        "source",
        "n_tok",
        "entropy",
        (F.col("entropy") < 3.5).alias("low_entropy"),
    )


@query(
    "streaming_late_data_drop_audit",
    """
    WITH a AS (SELECT ts, event_type FROM events WHERE event_id % 2 = 0),
    wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM a),
    win AS (
      SELECT date_trunc('hour', ts) AS ws, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM a GROUP BY ws, event_type
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, n
    FROM win, wm WHERE ws + INTERVAL 1 HOUR <= wm.w
    """,
)
def streaming_late_data_drop_audit(spark, sf_dir):
    """REAL two-phase streaming run demonstrating watermark late-data
    DROPS (the semantics none of the single-drain streaming queries can
    exhibit): on-time events (even event_id) drain first and advance
    the checkpointed watermark; the late file (odd event_id) arrives in
    a SECOND availableNow run — a restart ingesting a delayed backfill
    — where rows targeting already-finalized windows are discarded
    (visible as numRowsDroppedByWatermark) and the rest park in
    never-finalized windows. The emitted output is therefore exactly
    the on-time rows inside windows whose end precedes
    ``max(on-time ts) − 2h`` — the closed form the oracle computes.
    State stays bounded by the watermark horizon at any scale; the
    late file never grows output, only the drop metric.

    The late file is additionally capped to ``ts <= max(on-time ts)``
    — a late row by definition trails the stream head, and without the
    cap a regenerated dataset whose global max lived on an odd
    event_id could advance the watermark in the second drain and emit
    windows the closed form excludes (round-4 ADVICE). Artifacts live
    under the session temp cache (reused across invocations, removed
    at exit) instead of leaking one mkdtemp per call."""
    import glob
    import os

    from vmware_graph_spark import commit
    from vmware_graph_spark.streaming.events import stream_windowed_counts_phased
    from vmware_graph_spark.tmpcache import cache_dir, data_key

    ev = load_table(spark, sf_dir, "events")
    root = cache_dir("late_audit", data_key(sf_dir, "events"))
    out_dir = os.path.join(root, "res")
    # A streaming parquet file sink writes _spark_metadata, never
    # _SUCCESS, so the completion marker must be our own commit mark —
    # written only after BOTH phased drains finish (round-5 ADVICE:
    # keying on _SUCCESS meant the cache never hit, and the rebuild's
    # rmtree pulled files out from under earlier lazy DataFrames).
    if not commit.marked(root):
        import shutil

        shutil.rmtree(root, ignore_errors=True)  # no half-run checkpoints
        d1, d2 = os.path.join(root, "in1"), os.path.join(root, "in2")
        sdir = os.path.join(root, "src")
        ckpt = os.path.join(root, "ckpt")
        os.makedirs(sdir, exist_ok=True)  # kernel copies arrivals here
        on_time = ev.filter(F.col("event_id") % 2 == 0)
        head = on_time.agg(F.max("ts")).first()[0]
        on_time.coalesce(1).write.mode("overwrite").parquet(d1)
        ev.filter(
            (F.col("event_id") % 2 == 1) & (F.col("ts") <= F.lit(head))
        ).coalesce(1).write.mode("overwrite").parquet(d2)
        stream_windowed_counts_phased(
            spark,
            [
                glob.glob(d1 + "/part-*.parquet")[0],
                glob.glob(d2 + "/part-*.parquet")[0],
            ],
            sdir,
            out_dir,
            ckpt,
        )
        commit.mark(root, {"kind": "late_audit"})
    return spark.read.parquet(out_dir).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
    )


def _log2_bucket_sql(col: str, max_k: int = 20) -> str:
    """Integer CASE ladder: floor(log2(col)) for col >= 1."""
    cases = " ".join(
        f"WHEN {col} >= {1 << k} THEN {k}" for k in range(max_k, 0, -1)
    )
    return f"CASE {cases} ELSE 0 END"


@query(
    "length_bucket_packing_plan",
    rf"""
    WITH d AS (
      SELECT len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS n_tok
      FROM documents
    ),
    b AS (
      SELECT {_log2_bucket_sql('n_tok')} AS bucket_k, n_tok
      FROM d WHERE n_tok > 0
    ),
    agg AS (
      SELECT bucket_k, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens
      FROM b GROUP BY bucket_k
    )
    SELECT bucket_k,
           CAST(power(2, bucket_k + 1) AS BIGINT) AS seq_len,
           n_docs, total_tokens,
           CAST(ceil(n_docs::DOUBLE
                     / greatest(4096 // CAST(power(2, bucket_k + 1) AS BIGINT), 1))
                AS BIGINT) AS n_batches,
           round(1.0 - total_tokens::DOUBLE
                       / (n_docs * CAST(power(2, bucket_k + 1) AS BIGINT)), 6)
             AS padding_frac
    FROM agg
    """,
)
def length_bucket_packing_plan(spark, sf_dir):
    """Sequence-packing batch plan by length bucket: documents group
    into power-of-two token-length buckets (floor(log2 n_tok)); each
    bucket pads to ``2^(k+1)`` and fills 4096-token batches, yielding
    per-bucket batch counts and padding waste — the planning query
    behind bucketed batching, where mixing a 10-token doc with a
    1000-token doc wastes 99% of the batch on pad tokens.

    All integer arithmetic (CASE-ladder log2 buckets, ceil-division
    batch counts); one groupBy on a ≤21-value key — the rollup is
    map-side-combinable and the plan survives any corpus size."""
    from vmware_graph_spark.functions.text import n_tokens

    d = load_table(spark, sf_dir, "documents").select(
        n_tokens("text").alias("n_tok")
    ).filter(F.col("n_tok") > 0)

    bucket = F.lit(0)
    for k in range(1, 21):
        bucket = F.when(F.col("n_tok") >= (1 << k), F.lit(k)).otherwise(bucket)
    agg = (
        d.select(bucket.alias("bucket_k"), "n_tok")
        .groupBy("bucket_k")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )
    seq_len = F.expr("shiftleft(cast(1 as bigint), bucket_k + 1)")
    docs_per_batch = F.greatest(F.lit(4096).cast("bigint") / seq_len, F.lit(1)).cast(
        "bigint"
    )
    return agg.select(
        "bucket_k",
        seq_len.alias("seq_len"),
        "n_docs",
        "total_tokens",
        F.ceil(F.col("n_docs").cast("double") / docs_per_batch)
        .cast("bigint")
        .alias("n_batches"),
        F.round(
            F.lit(1.0)
            - F.col("total_tokens").cast("double") / (F.col("n_docs") * seq_len),
            6,
        ).alias("padding_frac"),
    )
