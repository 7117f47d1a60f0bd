"""Round-4 extensions (continued): metadata-vs-content language audit,
Jensen–Shannon mixture drift between sources, near-dup cluster-size
histogram, and per-document n-gram novelty.

Same registry/oracle discipline as ``queries.py`` — every query here is
paired with a DuckDB ANSI-SQL twin and hash-matches it at sf0.01. All
float folds follow the bm25/tf-idf determinism contract: per-row terms
are rounded and summed in DECIMAL (exact, partition-order independent),
with doubles only in per-row arithmetic and the final presentation
round.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from vmware_graph_spark import commit
from vmware_graph_spark.functions.text import lang_id, lang_id_sql
from vmware_graph_spark.queries import _toks, query
from vmware_graph_spark.queries import _NDP_PAIRS_CTE
from vmware_graph_spark.sources.tables import load_table
from vmware_graph_spark.tmpcache import cache_dir, data_key


def _cached_index_dir(sf_dir: str) -> str:
    return os.path.join(
        cache_dir("dedup_index", data_key(sf_dir, "documents")), "index"
    )


@query(
    "lang_mismatch_audit_by_source",
    f"""
    WITH scored AS (
      SELECT source, lang, {lang_id_sql('text')} AS lang_pred FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN lang_pred <> lang THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mismatch,
           round(CAST(sum(CASE WHEN lang_pred <> lang THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS mismatch_rate
    FROM scored GROUP BY source
    """,
)
def lang_mismatch_audit_by_source(spark, sf_dir):
    """Metadata-vs-content audit: per source, how often the content
    language classifier disagrees with the ``lang`` column a crawler or
    uploader attached — elevated rates flag sources whose metadata
    can't be trusted for language-targeted corpus recipes (the mixture
    and budget queries key on ``lang``). Pure scan-side classification
    (the n-gram marker CASE) + one small-key rollup; nothing global."""
    d = load_table(spark, sf_dir, "documents")
    mism = F.when(lang_id("text") != F.col("lang"), 1).otherwise(0)
    return d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(mism).cast("bigint").alias("n_mismatch"),
        F.round(F.sum(mism).cast("double") / F.count("*"), 6).alias("mismatch_rate"),
    )


@query(
    "jsd_mixture_drift_by_source",
    f"""
    WITH t AS (
      SELECT source, unnest({_toks('text')}) AS tok FROM documents
    ),
    st AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c_s
      FROM t GROUP BY source, tok
    ),
    tot AS (SELECT tok, CAST(sum(c_s) AS BIGINT) AS c_t FROM st GROUP BY tok),
    n AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS n_s FROM st GROUP BY source),
    grand AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t FROM tot),
    terms AS (
      SELECT st.source,
             st.c_s::DOUBLE / n.n_s AS p,
             CASE WHEN tot.c_t - st.c_s > 0
                  THEN (tot.c_t - st.c_s)::DOUBLE / (grand.n_t - n.n_s)
                  ELSE 0.0 END AS q
      FROM st JOIN tot USING (tok) JOIN n ON n.source = st.source
      CROSS JOIN grand
      UNION ALL
      -- tokens the source never emits: p = 0, q-side term only
      SELECT n.source, 0.0 AS p,
             tot.c_t::DOUBLE / (grand.n_t - n.n_s) AS q
      FROM tot CROSS JOIN grand JOIN n ON TRUE
      WHERE NOT EXISTS (
        SELECT 1 FROM st WHERE st.source = n.source AND st.tok = tot.tok
      )
    ),
    contrib AS (
      SELECT source,
             round(CASE WHEN p > 0 THEN 0.5 * p * log2(2 * p / (p + q)) ELSE 0 END
                   + CASE WHEN q > 0 THEN 0.5 * q * log2(2 * q / (p + q)) ELSE 0 END,
                   12)::DECIMAL(28,12) AS term
      FROM terms
    )
    SELECT source, round(CAST(sum(term) AS DOUBLE), 6) AS jsd
    FROM contrib GROUP BY source
    """,
)
def jsd_mixture_drift_by_source(spark, sf_dir):
    """Jensen–Shannon divergence between each source's unigram
    distribution and the REST of the corpus — the mixture-drift score
    behind "which source is shifting our token distribution" and data-
    mixture rebalancing decisions (0 = indistinguishable, 1 bit = fully
    disjoint vocabularies). Per-token contributions are rounded to
    DECIMAL and summed exactly, so the fold is partition-order
    independent (the bm25 discipline).

    Scale shape: token counts are two linear groupBys; the per-source
    join fans each vocabulary row to the handful of sources (a
    broadcast-small totals side), all partitioned by token — no global
    window, no all-pairs."""
    d = load_table(spark, sf_dir, "documents")
    from vmware_graph_spark.functions.text import tokens

    t = d.select("source", F.explode(tokens("text")).alias("tok"))
    st = t.groupBy("source", "tok").agg(F.count("*").cast("bigint").alias("c_s"))
    tot = st.groupBy("tok").agg(F.sum("c_s").cast("bigint").alias("c_t"))
    n = st.groupBy("source").agg(F.sum("c_s").cast("bigint").alias("n_s"))
    n_t = st.agg(F.sum("c_s").cast("bigint").alias("n_t"))

    # every (source, vocab token) pair: per-source counts left-joined
    # onto the vocabulary fanned out to the (broadcast-small) source
    # list, so never-emitted tokens appear with c_s = 0
    fan = tot.crossJoin(F.broadcast(n.select("source", "n_s"))).crossJoin(
        F.broadcast(n_t)
    )
    full = fan.join(st, ["source", "tok"], "left").withColumn(
        "c_s", F.coalesce("c_s", F.lit(0).cast("bigint"))
    )
    p = F.col("c_s").cast("double") / F.col("n_s")
    q_num = (F.col("c_t") - F.col("c_s")).cast("double")
    q = F.when(q_num > 0, q_num / (F.col("n_t") - F.col("n_s"))).otherwise(F.lit(0.0))
    m2 = p + q  # 2·M
    term = F.round(
        F.when(p > 0, 0.5 * p * F.log2(2 * p / m2)).otherwise(F.lit(0.0))
        + F.when(q > 0, 0.5 * q * F.log2(2 * q / m2)).otherwise(F.lit(0.0)),
        12,
    ).cast("decimal(28,12)")
    return (
        full.select("source", term.alias("term"))
        .groupBy("source")
        .agg(F.round(F.sum("term").cast("double"), 6).alias("jsd"))
    )


@query(
    "dedup_cluster_size_histogram",
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
    ),
    sizes_c AS (
      SELECT component, CAST(count(*) AS BIGINT) AS sz FROM comp GROUP BY component
    )
    SELECT CASE WHEN sz >= 16 THEN 16 WHEN sz >= 8 THEN 8 WHEN sz >= 4 THEN 4
                WHEN sz >= 2 THEN 2 ELSE 1 END AS size_bin,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs
    FROM sizes_c GROUP BY size_bin
    """,
)
def dedup_cluster_size_histogram(spark, sf_dir):
    """Shape of the duplication problem: near-dup cluster sizes binned
    to powers of two (1 = unique, 2-3, 4-7, 8-15, 16+), with cluster
    and document counts per bin — the first chart a dedup report shows
    (is duplication a long tail of pairs, or a few giant mirror
    families whose LSH buckets need the skew caps?). Reuses the
    LSH-sparse pair graph + O(log n) star CC; the histogram itself is
    two small-key aggregations."""
    from vmware_graph_spark.analytics.algos import connected_components
    from vmware_graph_spark.operators.dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, bands=4, verify_threshold=0.4
    )
    cc = connected_components(
        d.select(F.col("doc_id").alias("id")),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
    )
    sizes = cc.groupBy("component").agg(F.count("*").cast("bigint").alias("sz"))
    size_bin = (
        F.when(F.col("sz") >= 16, 16)
        .when(F.col("sz") >= 8, 8)
        .when(F.col("sz") >= 4, 4)
        .when(F.col("sz") >= 2, 2)
        .otherwise(1)
    )
    return (
        sizes.select(size_bin.alias("size_bin"), "sz")
        .groupBy("size_bin")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
        )
    )


@query(
    "multimodal_decode_ppm_stats",
    """
    WITH d AS (
      SELECT doc_id, n_chars, 2 + doc_id % 3 AS w, 2 + doc_id % 2 AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, n_chars, unnest(range(h)) AS r FROM d
    ),
    m AS (
      SELECT doc_id, w, h,
             avg((n_chars + r) % 256) AS mr,
             avg((n_chars + r + 85) % 256) AS mg,
             avg((n_chars + r + 170) % 256) AS mb
      FROM px GROUP BY doc_id, w, h
    )
    SELECT doc_id AS asset_id, CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           round(mr, 6) AS mean_r, round(mg, 6) AS mean_g,
           round(mb, 6) AS mean_b
    FROM m
    """,
)
def multimodal_decode_ppm_stats(spark, sf_dir):
    """REAL image decode, end to end: deterministic PPM (P6) images are
    synthesized per document (dims from doc_id, a per-row RGB ramp from
    n_chars), then decoded back by the stdlib decoder through the
    production Arrow ``mapInPandas`` path — and the oracle recomputes
    width/height/channel-means straight from the SOURCE numbers,
    so a header mis-parse, channel swap, or stride bug anywhere in
    encode→decode breaks the hash match. This retires the round-2
    "decode is stubbed" caveat for formats the stdlib can own; JPEG/PNG
    still require an injected codec by design."""
    import pandas as pd_  # local alias: keep module import surface lazy

    from vmware_graph_spark.operators.multimodal import as_media, decode_images

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def build(batches):
        for pdf in batches:
            medias = []
            for did, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                w, h = 2 + did % 3, 2 + did % 2
                px = bytearray()
                for r in range(h):
                    row = bytes(
                        (
                            (nc + r) % 256,
                            (nc + r + 85) % 256,
                            (nc + r + 170) % 256,
                        )
                    ) * w
                    px += row
                medias.append(b"P6\n%d %d\n255\n" % (w, h) + bytes(px))
            yield pd_.DataFrame({"asset_id": pdf["doc_id"], "media": medias})

    assets = as_media(
        d.mapInPandas(build, "asset_id bigint, media binary"),
        "asset_id",
        "media",
        "image/x-portable-pixmap",
    )
    out = decode_images(assets)
    return out.select(
        "asset_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


@query(
    "audio_wav_rms_windows",
    """
    WITH d AS (SELECT doc_id, 64 + doc_id % 32 AS n FROM documents WHERE doc_id % 10 = 0),
    starts AS (SELECT doc_id, n, unnest(range(0, n, 16)) AS start FROM d),
    s AS (SELECT doc_id, n, unnest(range(n)) AS i FROM d),
    v AS (
      SELECT doc_id, i, ((doc_id * 37 + i * 11) % 65536) - 32768 AS smp FROM s
    ),
    w AS (
      SELECT st.doc_id, st.start, CAST(count(*) AS BIGINT) AS n_smp,
             sqrt(CAST(sum(v.smp * v.smp) AS DOUBLE) / count(*)) AS rms
      FROM starts st JOIN v
        ON v.doc_id = st.doc_id AND v.i >= st.start AND v.i < st.start + 32
      GROUP BY st.doc_id, st.start
    )
    SELECT doc_id AS asset_id, CAST(start // 16 AS INTEGER) AS win_idx,
           CAST(start AS BIGINT) AS start, n_smp AS n, round(rms, 6) AS rms
    FROM w
    """,
)
def audio_wav_rms_windows(spark, sf_dir):
    """REAL audio decode, end to end: deterministic 16-bit PCM WAVs are
    synthesized per sampled document (a modular sample ramp seeded by
    doc_id), decoded back by the stdlib ``wave`` reader, and folded to
    overlapping per-window RMS energies — while the oracle recomputes
    every window's RMS straight from the sample FORMULA, so a header
    mis-parse, sample-width bug, or hop-arithmetic error breaks the
    hash match. Squared sums are integer-exact; sqrt/division are
    correctly-rounded IEEE, rounded JVM-side. This retires the audio
    half of the round-2 "decode is stubbed" caveat for the container
    format the stdlib owns; compressed codecs stay injectable."""
    import io
    import struct
    import wave as wave_mod

    import pandas as pd_

    from vmware_graph_spark.operators.multimodal import as_media, audio_rms_windows

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
    )

    def build(batches):
        for pdf in batches:
            medias = []
            for did in pdf["doc_id"]:
                n = 64 + did % 32
                samples = [((did * 37 + i * 11) % 65536) - 32768 for i in range(n)]
                buf = io.BytesIO()
                with wave_mod.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(struct.pack(f"<{n}h", *samples))
                medias.append(buf.getvalue())
            yield pd_.DataFrame({"asset_id": pdf["doc_id"], "media": medias})

    assets = as_media(
        d.mapInPandas(build, "asset_id bigint, media binary"),
        "asset_id",
        "media",
        "audio/wav",
    )
    out = audio_rms_windows(assets, window=32, hop=16)
    return out.select(
        "asset_id", "win_idx", "start", "n", F.round("rms", 6).alias("rms")
    )


def _dedup_against_sql() -> str:
    from vmware_graph_spark.queries import _DEDUP_AGAINST_SQL

    return _DEDUP_AGAINST_SQL


@query(
    "dedup_against_persisted_index",
    _dedup_against_sql(),
)
def dedup_against_persisted_index(spark, sf_dir):
    """Incremental dedup against a PERSISTED signature index: the
    corpus side's fingerprints, LSH band buckets, shingle inverted
    index, and sizes are built ONCE (``write_dedup_index``) and the new
    batch (doc_id % 5 = 0) is flagged by reading only that index — the
    corpus text is never re-scanned, which is the actual day-2 cost
    model at 100 TB (the in-flight twin ``dedup_new_against_corpus``
    re-derives the reference side per call). Decisions are identical by
    construction, pinned by sharing that twin's oracle SQL verbatim.

    The index lives under ONE session-scoped cache directory keyed by
    (sf_dir, documents mtime) and is built only when absent — repeat
    invocations (bench/selfcheck loops) reuse it instead of leaking a
    fresh mkdtemp per call, and atexit removes the whole cache root."""
    from vmware_graph_spark.operators.dedup import (
        dedup_against_index,
        write_dedup_index,
    )

    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 5 == 0)
    ref = d.filter(F.col("doc_id") % 5 != 0)
    idx = _cached_index_dir(sf_dir)
    # write_dedup_index commits the index with its marker LAST, so it
    # doubles as the cache's completion marker — keying on
    # sizes/_SUCCESS would leave a crash-between-sizes-and-marker cache
    # permanently erroring
    if not commit.marked(idx):
        write_dedup_index(ref, idx, "doc_id", "text", n=3, num_hashes=8, bands=4)
    out = dedup_against_index(
        new, spark, idx, "doc_id", "text",
        n=3, num_hashes=8, bands=4, verify_threshold=0.5,
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("exact_dup").cast("int").alias("exact_dup"),
        F.col("near_dup").cast("int").alias("near_dup"),
        F.col("kept").cast("int").alias("kept"),
    )


@query(
    "weighted_shortest_paths_nations",
    """
    WITH rn AS (
      SELECT r_regionkey AS r, n_nationkey AS j, (n_nationkey % 7) + 1 AS w
      FROM nation JOIN region ON n_regionkey = r_regionkey
    ),
    pairs AS (
      SELECT rn.r, n2.n_nationkey AS n,
             min(rn.w + ((n2.n_nationkey - rn.j + 25) % 25)) AS dist
      FROM rn CROSS JOIN nation n2
      GROUP BY rn.r, n2.n_nationkey
    )
    SELECT 'n' || n AS id, 'r' || r AS landmark, CAST(dist AS BIGINT) AS dist
    FROM pairs
    UNION ALL
    SELECT 'r' || r_regionkey, 'r' || r_regionkey, CAST(0 AS BIGINT) FROM region
    """,
)
def weighted_shortest_paths_nations(spark, sf_dir):
    """Weighted shortest paths (Bellman–Ford min-plus rounds) from each
    region landmark over a graph with REAL route choices: every region
    links to its own nations at varying integer cost, and all 25
    nations form a directed unit-cost ring — so the cheapest way to a
    nation is often to enter at a cheap gateway and ride the ring past
    other nations, not the direct edge. The oracle computes the closed
    form (min over gateways of entry cost + ring distance), so a
    relaxation bug that stops early or over-relaxes breaks the match.
    Integer weights keep min-plus exact; the kernel raises on
    non-convergence (which is also how negative cycles surface)."""
    from vmware_graph_spark.analytics.algos import weighted_sssp

    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    nid = F.concat(F.lit("n"), F.col("n_nationkey"))
    gateway = n.join(
        r, n.n_regionkey == r.r_regionkey
    ).select(
        F.concat(F.lit("r"), F.col("r_regionkey")).alias("src"),
        nid.alias("dst"),
        ((F.col("n_nationkey") % 7) + 1).alias("w"),
    )
    ring = n.select(
        nid.alias("src"),
        F.concat(F.lit("n"), (F.col("n_nationkey") + 1) % 25).alias("dst"),
        F.lit(1).alias("w"),
    )
    sources = r.select(
        F.concat(F.lit("r"), F.col("r_regionkey")).alias("id"),
        F.concat(F.lit("r"), F.col("r_regionkey")).alias("landmark"),
    )
    return weighted_sssp(gateway.unionByName(ring), sources, max_iters=40)


@query(
    "ngram_novelty_by_doc",
    f"""
    WITH t AS (SELECT doc_id, {_toks('text')} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                   i -> array_to_string(list_slice(t, i, i + 2), ' ')))
               AS gram
      FROM t
    ),
    first_seen AS (SELECT gram, min(doc_id) AS first_doc FROM sh GROUP BY gram)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS novelty
    FROM sh JOIN first_seen f ON f.gram = sh.gram
    GROUP BY sh.doc_id
    """,
)
def ngram_novelty_by_doc(spark, sf_dir):
    """Corpus novelty saturation: for each document (in doc_id arrival
    order), the fraction of its distinct 3-gram shingles never seen in
    any EARLIER document — the curve that tells a crawl operator when
    additional data from a source stops contributing new content (the
    classic diminishing-returns diagnostic). First-occurrence is
    ``min(doc_id)`` per gram — one linear groupBy on the gram, one
    equi-join back, one per-doc rollup; no window over the vocabulary
    and no ordered scan anywhere."""
    from vmware_graph_spark.functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("gram")
    ).distinct()
    first = sh.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(F.sum(novel).cast("double") / F.count("*"), 6).alias("novelty"),
        )
    )


@query(
    "lm_bigram_quality_scores",
    f"""
    WITH dt AS (SELECT doc_id, {_toks('text')} AS t FROM documents),
    db AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t), 1)),
                                   i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g
      FROM dt WHERE len(t) >= 2
    ),
    rt AS (SELECT unnest(t) AS tok FROM dt WHERE doc_id % 7 = 0),
    c1 AS (SELECT tok, count(*) AS c1 FROM rt GROUP BY tok),
    vocab AS (SELECT count(DISTINCT tok) AS v FROM rt),
    rb AS (
      SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                                   i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g
      FROM dt WHERE doc_id % 7 = 0 AND len(t) >= 2
    ),
    c2 AS (SELECT g, count(*) AS c2 FROM rb GROUP BY g),
    scored AS (
      SELECT db.doc_id,
             c1.c1 IS NULL AS oov,
             CAST(round(-ln((COALESCE(c2.c2, 0) + 1)::DOUBLE
                            / (COALESCE(c1.c1, 0) + vocab.v)::DOUBLE), 6)
                  AS DECIMAL(18,6)) AS nlp
      FROM db
      LEFT JOIN c2 ON db.g = c2.g
      LEFT JOIN c1 ON string_split(db.g, ' ')[1] = c1.tok
      CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(nlp) AS DOUBLE) / count(*), 6) AS avg_neglogp,
           round(sum(CASE WHEN oov THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
             AS oov_rate
    FROM scored GROUP BY doc_id
    """,
)
def lm_bigram_quality_scores(spark, sf_dir):
    """Reference-trained LM quality filter (the CCNet shape): an
    add-one-smoothed bigram model is built from the clean slice
    (doc_id % 7 = 0 stands in for "curated reference"), and every
    document scores its mean −ln p(w2|w1) plus an OOV-context rate —
    the cheap gate a pipeline runs before dedup/embedding passes.
    Complements ``unigram_logprob_documents``: that scores against the
    corpus's OWN unigram mix (outlier detector); this scores against a
    FIXED external reference (distribution-shift detector), which is
    what lets it rank a whole crawl against a quality anchor. See
    ``operators.quality.lm_bigram_neglogprob`` for the scale shape."""
    from vmware_graph_spark.operators.quality import lm_bigram_neglogprob

    d = load_table(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 7 == 0)
    out = lm_bigram_neglogprob(d, ref, "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"), "n_bigrams", "avg_neglogp", "oov_rate"
    )
