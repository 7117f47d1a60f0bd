"""Deduplication operators for the training-data pipeline.

Four families, each a standalone DataFrame-in/DataFrame-out operator:

- exact        — hash-groupBy on a content fingerprint (one shuffle).
- token-set / n-gram Jaccard — exact pairwise similarity via an inverted
  shingle index (explode → self-join on shingle → count). Quadratic only
  within shingle buckets; the scale path prunes with MinHash LSH first.
- MinHash + LSH — signature → bands → bucket join; candidate pairs then
  verified with exact Jaccard. The standard 100 TB near-dup design.
- SimHash      — 64-bit sign-of-weighted-sum fingerprint; near-dups are
  pairs within a Hamming radius, found by piece-table join.

Hashing is md5-based (not Spark's xxhash64) so every stage is
reproducible in any engine — the DuckDB oracles in
``vmware_graph_spark.queries`` recompute the same signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vmware_graph_spark import commit
from vmware_graph_spark.functions.text import fingerprint, tokens, word_shingles
from vmware_graph_spark.operators.pin import pinned, pinned_lazy


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row per distinct content fingerprint (min id wins).

    Single hash shuffle on the fingerprint; at 100 TB this is the
    cheapest dedup pass and always runs before the fuzzy ones.
    """
    fp = df.withColumn("__fp", fingerprint(text_col))
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def _shingle_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) distinct — the inverted-index input. n=1 → token set."""
    sh = word_shingles(text_col, n) if n > 1 else tokens(text_col)
    return (
        df.select(F.col(id_col).alias("id"), F.explode(sh).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 1,
    threshold: float = 0.6,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs ≥ threshold.

    Shuffle profile: one explode+distinct, one self-join keyed on
    shingle, one pair-count aggregation. The self-join is skew-prone on
    stopword-like shingles: ``max_df`` drops shingles whose document
    frequency exceeds the cap BEFORE the join (and before set sizes are
    counted, so the score is a consistent Jaccard over the pruned
    shingle universe). At 100 TB always set ``max_df`` — a single hot
    shingle in N docs otherwise creates N² join rows.
    """
    sh = _shingle_table(df, id_col, text_col, n)
    if max_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    ja = (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
    )
    return ja.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 1,
    threshold: float = 0.6,
    candidates_only: bool = False,
) -> DataFrame:
    """Exact Jaccard pairs ≥ threshold via PREFIX FILTERING (PPJoin
    family) — same results as :func:`jaccard_pairs`, different join
    algebra: shingles get a global rarity rank (document frequency
    ascending), each document keeps only its ``|x| − ⌈t·|x|⌉ + 1``
    rarest shingles as its prefix, and only documents whose PREFIXES
    share a shingle become candidates (the prefix-filter theorem: if
    J(x,y) ≥ t the prefixes must intersect). Candidates are then
    verified with exact intersection counts over the full sets.

    vs the plain inverted index: the self-join runs on ~(1−t) of the
    index, and the hottest (most frequent) shingles are exactly the
    ones prefixes exclude — the skew cap falls out of the algorithm
    instead of needing ``max_df``. The prefix-filter theorem needs only
    a TOTAL ORDER over the vocabulary, not dense ranks, so documents
    order their shingles by the ``(df, shingle)`` pair directly inside
    the per-doc window — no global vocabulary sort anywhere in the
    plan (the round-2 VERDICT flagged the former single-task
    ``row_number`` rank: at 100 TB the 3-gram vocabulary is billions of
    rows through one task; this shape has no unpartitioned window).
    The ⌈t·n⌉ is computed in decimal so float rounding can never
    shorten a prefix below the theorem's bound.
    """
    # the shingle table feeds FIVE consumers (df-rank, prefix build,
    # both verify sides, sizes) — cut lineage once so the corpus
    # tokenize+explode runs a single time, same role a persisted
    # shingle stage plays on a cluster (mirrors minhash_lsh_pairs)
    sh = _shingle_table(df, id_col, text_col, n).transform(pinned_lazy)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))

    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))

    t_dec = F.lit(threshold).cast("decimal(10,6)")
    pref_len = F.col("n_sh") - F.ceil(t_dec * F.col("n_sh")) + 1
    wdoc = Window.partitionBy("id").orderBy(F.col("__df").asc(), F.col("shingle").asc())
    pref = (
        sh.join(dfreq, "shingle")
        .join(sizes, "id")
        .withColumn("__pos", F.row_number().over(wdoc))
        .filter(F.col("__pos") <= pref_len)
        .select("id", "shingle", "n_sh")
    )
    a = pref.alias("a")
    b = pref.alias("b")
    # PPJoin's LENGTH filter rides the candidate join: J(x,y) ≥ t
    # forces min(|x|,|y|) ≥ t·max(|x|,|y|) (|A∩B| ≤ min, |A∪B| ≥ max),
    # so size-incompatible pairs never reach the candidate distinct or
    # the verify join. Evaluated in pure BIGINT — min·10⁶ ≥ ⌊t·10⁶⌋·max
    # — because the predicate runs on every RAW prefix-join row (far
    # more rows than surviving candidates) and per-row decimal math
    # measurably outweighed the pruning at 100× rows; flooring t·10⁶
    # only ever weakens the bound, so no admissible pair is excluded.
    t_int = F.lit(int(threshold * 1_000_000))
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.least(F.col("a.n_sh"), F.col("b.n_sh")) * 1_000_000
                >= t_int * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if candidates_only:
        # introspection surface for scale measurement (tools/scalebench):
        # the prefix-filter candidate set BEFORE exact verification —
        # the quantity the kernel's runtime is linear in
        return cands
    xa = sh.select(F.col("id").alias("id_a"), "shingle")
    xb = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cands.join(xa, "id_a")
        .join(xb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    ja = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
    )
    return ja.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT: pairs where the smaller side's
    shingle set is ≥ ``threshold`` inside the other —
    max(inter/|A|, inter/|B|). Catches quote-inclusion and
    excerpt/expansion duplicates that Jaccard structurally misses (a
    200-word quote inside a 10k-word article has high containment but
    tiny Jaccard). Same inverted-index shuffle profile as
    ``jaccard_pairs`` (one self-join on shingle, ``max_df`` hot-shingle
    cap applies identically); only the normalization differs."""
    sh = _shingle_table(df, id_col, text_col, n)
    if max_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    ct = (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn(
            "containment",
            F.greatest(
                F.col("inter").cast("double") / F.col("na").cast("double"),
                F.col("inter").cast("double") / F.col("nb").cast("double"),
            ),
        )
    )
    return ct.filter(F.col("containment") >= threshold).select(
        "id_a", "id_b", "containment"
    )


def _md5_hash64(col, seed: int):
    """Deterministic 60-bit integer hash: md5 → first 15 hex chars → int.

    Engine-portable (md5 + hex parse exist everywhere), unlike
    xxhash64/murmur which differ per engine.
    """
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10).cast(
        "bigint"
    )


_H61_MOD = (1 << 61) - 1  # Mersenne prime; affine outputs stay < 2^61


def _affine_consts(seed: int) -> tuple[int, int, int]:
    """Per-seed affine constants, derived from md5 of a fixed tag so
    the DuckDB oracle can re-derive them in SQL (``md5('A:' || i)``):
    A, B are 28-bit (7 hex chars), C is 60-bit (15 hex chars)."""
    import hashlib

    a = int(hashlib.md5(f"A:{seed}".encode()).hexdigest()[:7], 16)
    b = int(hashlib.md5(f"B:{seed}".encode()).hexdigest()[:7], 16)
    c = int(hashlib.md5(f"C:{seed}".encode()).hexdigest()[:15], 16)
    return a, b, c


def _md5_base64(col) -> F.Column:
    """The ONE md5 a value pays under the seeded-family scheme: 60-bit
    integer base, split/derived per seed by :func:`_seeded_hash64`."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _seeded_hash64(base: F.Column, seed: int) -> F.Column:
    """seed-th hash from a shared md5 base — the MinHash hash family.

    md5 per (value, seed) was the #1 CPU line of every minhash scan
    (num_hashes md5 calls per shingle row); deriving the family from
    one base via a per-seed affine map costs one md5 per ROW instead.
    The base splits into 30-bit halves so every product stays < 2^58
    and the mod-(2^61-1) sum < 2^62 — exact in non-ANSI Spark AND in
    DuckDB (which would raise on a real bigint overflow). The halves
    break monotonicity in the base, so per-seed argmins decorrelate
    like independent hashes. Oracle twin: ``queries._h64_seeded``.
    """
    a, b, c = _affine_consts(seed)
    hi = F.shiftright(base, 30)
    lo = base.bitwiseAND(F.lit((1 << 30) - 1))
    return (hi * F.lit(a) + lo * F.lit(b) + F.lit(c)) % F.lit(_H61_MOD)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 3, num_hashes: int = 16
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures over word n-grams.

    One explode + one groupBy(id) with ``num_hashes`` min() aggregates —
    a single shuffle regardless of signature width.
    """
    sh = _shingle_table(df, id_col, text_col, n)
    return _minhash_sig(sh, num_hashes)


def _lsh_candidates_from(
    sh: DataFrame, *, num_hashes: int, bands: int
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b, distinct) from a shingle
    table: signature aggregation, per-band bucket keys, bucket
    self-join. Shared by ``minhash_lsh_pairs`` (which verifies) and
    ``minhash_lsh_candidates`` (recall evaluation wants the raw set)."""
    sig = _minhash_sig(sh, num_hashes)
    buckets = _band_buckets(sig, num_hashes, bands)
    # Pin the bucket table (EAGER) before the self-join: the two join
    # branches canonicalize differently (one sits under a
    # BroadcastExchange), so no exchange reuse fires — with or without
    # AQE, and even hinted to a shuffled-hash join (tried; both
    # partial_min subtrees stayed in the final plan) — and the WHOLE
    # signature aggregation (md5 base per shingle row, the num_hashes
    # min-aggregates, the hash exchange on id, the band-bucket
    # Generate) executed TWICE per run (verified in the final adaptive
    # plan, plans/r12/minhash_lsh_pairs_documents_*.txt; JVM CPU for
    # the whole query dropped 19.7 -> 11.1 s with the pin). Bucket rows
    # are bands-per-doc small (4/doc here) so the pin is cheap; EAGER
    # on purpose — the self-join's broadcast-build and probe stages
    # are scheduled concurrently, and a lazy pin was materialized
    # racily by both (the round-8 shared-cut hazard, re-measured
    # this round).
    buckets = buckets.transform(pinned)
    a = buckets.alias("a")
    b_ = buckets.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Raw banded-LSH candidate pairs, unverified — the set whose recall
    against exact ground truth calibrates (bands, rows) before a large
    run (see the ``lsh_recall_vs_exact`` registry query)."""
    sh = _shingle_table(df, id_col, text_col, n)
    return _lsh_candidates_from(sh, num_hashes=num_hashes, bands=bands)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """MinHash→LSH banding→bucket join→exact-Jaccard verification.

    Bands of r = num_hashes/bands rows; docs sharing any band bucket are
    candidates; candidates are verified with exact Jaccard so the output
    has no false positives (false-negative rate set by (b, r)).

    The shingle table feeds both the signature aggregation and the
    candidate verification (sizes + two intersection joins); it is
    lineage-cut once so the tokenize+explode runs a single time — on a
    cluster the same role is played by persisting the shingle stage.
    """
    sh = _shingle_table(df, id_col, text_col, n).transform(pinned_lazy)
    cands = _lsh_candidates_from(sh, num_hashes=num_hashes, bands=bands)
    # Verify ONLY the candidate pairs: join candidates to the per-doc
    # shingle sets and count intersections for those pairs alone. The
    # join keys are the candidate ids, so cost is O(|candidates| ×
    # avg shingles), never the all-pairs self-join LSH exists to avoid.
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a_sh = cands.join(sh.withColumnRenamed("id", "id_a"), "id_a")
    inter = (
        a_sh.join(sh.withColumnRenamed("id", "id_b"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    ja = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
    )
    return ja.filter(F.col("jaccard") >= verify_threshold).select("id_a", "id_b", "jaccard")


def minhash_estimate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_estimate: float = 0.0,
) -> DataFrame:
    """LSH candidate pairs scored by SIGNATURE-ONLY Jaccard estimation.

    Same banding as :func:`minhash_lsh_pairs`, but the score is the
    fraction of agreeing MinHash positions (an unbiased estimator of
    Jaccard) instead of the exact set intersection. The verification
    join touches only the fixed-width signature table — ``num_hashes``
    longs per doc — never the shingle sets, so the per-candidate cost
    is O(num_hashes) regardless of document length. This is the 100 TB
    fast path when an approximate score is acceptable (e.g. a first
    dedup sweep later re-verified exactly on the survivors); the
    exact-verification variant is the no-false-positives path.
    """
    sh = _shingle_table(df, id_col, text_col, n)
    sig = _minhash_sig(sh, num_hashes).transform(pinned_lazy)
    buckets = _band_buckets(sig, num_hashes, bands)
    a = buckets.alias("a")
    b_ = buckets.alias("b")
    cands = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    scored = (
        cands.join(sig.select(F.col("id").alias("id_a"), F.col("sig").alias("__sa")), "id_a")
        .join(sig.select(F.col("id").alias("id_b"), F.col("sig").alias("__sb")), "id_b")
        .withColumn(
            "est_jaccard",
            F.aggregate(
                F.zip_with("__sa", "__sb", lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, v: acc + v,
            ).cast("double")
            / F.lit(float(num_hashes)),
        )
    )
    return scored.filter(F.col("est_jaccard") >= min_estimate).select(
        "id_a", "id_b", "est_jaccard"
    )


def dedup_against(
    new: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Dedup a NEW batch against an existing REFERENCE corpus
    (incremental-ingestion dedup): every new row is flagged
    ``exact_dup`` (normalized fingerprint already present in ref),
    ``near_dup`` (MinHash-LSH candidate against ref verified at
    ``verify_threshold`` Jaccard), and ``kept`` (neither).

    This is the shape a 100 TB pipeline actually runs day-to-day — the
    reference corpus is NOT re-paired against itself (its signatures
    and fingerprints are loaded, ideally precomputed); candidates come
    from a cross-corpus band-bucket join only, so cost scales with the
    new batch, not the corpus. Verification joins candidates to the two
    shingle tables (exact Jaccard, no false positives), mirroring
    :func:`minhash_lsh_pairs`.
    """
    sh_ref = _shingle_table(ref, id_col, text_col, n).transform(pinned_lazy)
    return _dedup_decisions(
        new,
        id_col,
        text_col,
        ref_fp=ref.select(fingerprint(text_col).alias("__fp")).distinct(),
        ref_buckets=_band_buckets(
            _minhash_sig(sh_ref, num_hashes), num_hashes, bands
        ),
        ref_shingles=sh_ref,
        ref_sizes=sh_ref.groupBy("id").agg(F.count("*").alias("n_ref")),
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        verify_threshold=verify_threshold,
    )


def prepare_dedup_reference(
    ref: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> dict:
    """Derive the REFERENCE-side dedup artifacts (fingerprints, band
    buckets, shingles, set sizes) ONCE and persist them CALLER-OWNED —
    the repeated-batch companion to :func:`dedup_against`, which
    derives them per call. A long-lived consumer (the streaming dedup
    sink, any per-arrival-batch loop) prepares the reference outside
    its loop, runs :func:`dedup_against_prepared` per batch, and calls
    :func:`operators.pin.release_pins` at each batch boundary — the
    prepared frames use raw ``persist`` (NOT the pin registry), so the
    boundary release reclaims only batch-scoped blocks while the
    reference stays hot across batches. Release with
    :func:`release_dedup_reference` when the loop ends.

    DISK_ONLY like every pin in this module: bounded-but-not-tiny
    derivations whose recompute is a corpus-wide explode+groupBy.

    Aliasing caveat: Spark's CacheManager is keyed by CANONICALIZED
    PLAN, not by Python object — if some other code registers a
    registry pin over a plan identical to one of these artifacts
    (e.g. calling plain :func:`dedup_against` on the same reference),
    ``release_pins`` will drop the SHARED entry. Keep prepared-path
    and in-flight-path usage of one reference out of the same release
    scope; the streaming sink satisfies this by construction (its loop
    only ever pins batch-derived plans)."""
    from pyspark import StorageLevel

    sh_ref = _shingle_table(ref, id_col, text_col, n).persist(
        StorageLevel.DISK_ONLY
    )
    return {
        "fp": ref.select(fingerprint(text_col).alias("__fp"))
        .distinct()
        .persist(StorageLevel.DISK_ONLY),
        "buckets": _band_buckets(
            _minhash_sig(sh_ref, num_hashes), num_hashes, bands
        ).persist(StorageLevel.DISK_ONLY),
        "shingles": sh_ref,
        "sizes": sh_ref.groupBy("id")
        .agg(F.count("*").alias("n_ref"))
        .persist(StorageLevel.DISK_ONLY),
        "params": (n, num_hashes, bands),
    }


def dedup_against_prepared(
    new: DataFrame,
    prepared: dict,
    id_col: str,
    text_col: str,
    *,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """:func:`dedup_against` with the reference artifacts prederived by
    :func:`prepare_dedup_reference` — identical per-document decisions
    (same ``_dedup_decisions`` dataflow), per-batch cost only."""
    n, num_hashes, bands = prepared["params"]
    return _dedup_decisions(
        new,
        id_col,
        text_col,
        ref_fp=prepared["fp"],
        ref_buckets=prepared["buckets"],
        ref_shingles=prepared["shingles"],
        ref_sizes=prepared["sizes"],
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        verify_threshold=verify_threshold,
    )


def release_dedup_reference(prepared: dict) -> None:
    """Unpersist a :func:`prepare_dedup_reference` artifact set."""
    for k in ("fp", "buckets", "shingles", "sizes"):
        try:
            prepared[k].unpersist()
        except Exception:
            pass  # session already stopped


def _minhash_sig(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(id, sig array<bigint>) MinHash signatures over a shingle table.

    One md5 per shingle row (projected once as the base), the
    ``num_hashes`` family members derived by per-seed affine maps
    inside the min-aggregates — see :func:`_seeded_hash64`. The per-seed
    min expressions are SQL strings parsed in one py4j call each (the
    Column-API chains cost ~7 driver roundtrips per seed per call —
    measured r13, same finding as ``simhash``)."""
    based = sh.withColumn("__hb", _md5_base64(F.col("shingle")))
    lo_mask = (1 << 30) - 1
    mins = []
    for i in range(num_hashes):
        a, b, c = _affine_consts(i)
        mins.append(
            F.expr(
                f"min((shiftright(__hb, 30) * {a} + (__hb & {lo_mask}) * {b} "
                f"+ {c}) % {_H61_MOD})"
            ).alias(f"h{i}")
        )
    return (
        based.groupBy("id")
        .agg(*mins)
        .select(
            "id",
            F.expr(
                "array(" + ",".join(f"h{i}" for i in range(num_hashes)) + ")"
            ).alias("sig"),
        )
    )


def _band_buckets(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) LSH band buckets from signature rows."""
    rows = num_hashes // bands
    band_cols = []
    for b in range(bands):
        elems = ", ".join(
            f"cast(element_at(sig, {b * rows + i + 1}) as string)"
            for i in range(rows)
        )
        band_cols.append(
            F.expr(
                f"named_struct('band', {b}, "
                f"'bucket', md5(concat_ws(',', {elems})))"
            )
        )
    return sig.select("id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _dedup_decisions(
    new: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ref_fp: DataFrame,
    ref_buckets: DataFrame,
    ref_shingles: DataFrame,
    ref_sizes: DataFrame,
    n: int,
    num_hashes: int,
    bands: int,
    verify_threshold: float,
) -> DataFrame:
    """The per-batch decision dataflow shared by :func:`dedup_against`
    (reference computed in-flight) and :func:`dedup_against_index`
    (reference loaded from a persisted index)."""
    fp_new = new.select(F.col(id_col).alias("id"), fingerprint(text_col).alias("__fp"))
    # defensively distinct: an appended index may carry a fingerprint
    # in more than one batch file, and a duplicated ref row would fan
    # out the left join below
    ref_fp = ref_fp.select("__fp").distinct()
    exact = (
        fp_new.join(ref_fp.withColumn("__hit", F.lit(1)), "__fp", "left")
        .select("id", (F.col("__hit").isNotNull()).alias("exact_dup"))
    )

    sh_new = _shingle_table(new, id_col, text_col, n).transform(pinned_lazy)
    cands = (
        _band_buckets(_minhash_sig(sh_new, num_hashes), num_hashes, bands)
        .withColumnRenamed("id", "id_new")
        .join(
            ref_buckets.withColumnRenamed("id", "id_ref"),
            ["band", "bucket"],
        )
        .select("id_new", "id_ref")
        .distinct()
    )
    sizes_new = sh_new.groupBy("id").agg(F.count("*").alias("n_new"))
    # countDistinct (not count): an appended index may carry a shingle
    # row twice for the same id (retried extend); distinct intersection
    # cardinality is immune to that, identical when the index is clean
    inter = (
        cands.join(sh_new.withColumnRenamed("id", "id_new"), "id_new")
        .join(ref_shingles.withColumnRenamed("id", "id_ref"), ["id_ref", "shingle"])
        .groupBy("id_new", "id_ref")
        .agg(F.countDistinct("shingle").alias("inter"))
    )
    near_ids = (
        inter.join(sizes_new.withColumnRenamed("id", "id_new"), "id_new")
        .join(ref_sizes.withColumnRenamed("id", "id_ref"), "id_ref")
        .filter(
            F.col("inter").cast("double")
            / (F.col("n_new") + F.col("n_ref") - F.col("inter")).cast("double")
            >= verify_threshold
        )
        .select(F.col("id_new").alias("id"))
        .distinct()
        .withColumn("__near", F.lit(1))
    )
    out = exact.join(near_ids, "id", "left").select(
        "id",
        "exact_dup",
        F.col("__near").isNotNull().alias("near_dup"),
    )
    return out.withColumn("kept", ~F.col("exact_dup") & ~F.col("near_dup"))


INDEX_TABLES = ("fingerprints", "buckets", "shingles", "sizes")

# Bumped whenever the hash scheme feeding the persisted index tables
# changes (v2 = the one-md5-base affine family). An index built under
# one family is UNREADABLE under another — bucket keys simply never
# collide — so reads must fail loudly, not return silent no-matches.
INDEX_HASH_FAMILY = "md5-affine-v2"


def _index_format(n: int, num_hashes: int, bands: int) -> dict:
    return {"hash_family": INDEX_HASH_FAMILY, "n": n, "num_hashes": num_hashes, "bands": bands}


def _check_index_format(path: str, n: int, num_hashes: int, bands: int) -> None:
    """Fail loudly when an index was built under different parameters
    or a different hash family (round-6 review: a family mismatch
    makes every LSH bucket key miss, silently flagging every
    near-duplicate as kept). A marker-less directory is half-built,
    predates the versioning or is not an index: ``commit.Unmarked``."""
    got = commit.read_mark(path, "dedup index")
    want = _index_format(n, num_hashes, bands)
    if got != want:
        raise ValueError(
            f"dedup index format mismatch at {path}: index={got}, "
            f"caller={want} — parameters and hash family must match "
            "the original build"
        )


def write_dedup_index(
    ref: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> None:
    """Precompute and PERSIST the reference-corpus dedup index — the
    four tables :func:`dedup_against` derives from the reference on
    every call (normalized fingerprints, LSH band buckets, the shingle
    inverted index, per-doc shingle sizes) — so day-2 incremental
    ingestion never touches the corpus text again. At 100 TB this is
    the difference between re-scanning the corpus per arriving batch
    and reading only the (bucket-keyed, partition-prunable) index
    slices the batch's candidates hit; the index appends under the
    same layout when the corpus grows (``kept`` docs' rows union in).
    """
    # A stale marker must never cover freshly-parameterized tables:
    # remove it first and stamp the new one only after ALL four tables
    # are written (round-6 review: marker-first meant a crash mid-
    # rebuild-with-new-params left a matching marker over a mix of
    # old- and new-parameter tables — silent zero-candidate reads).
    commit.unmark(path)
    sh = _shingle_table(ref, id_col, text_col, n)
    tables = {
        "fingerprints": ref.select(fingerprint(text_col).alias("__fp")).distinct(),
        "buckets": _band_buckets(_minhash_sig(sh, num_hashes), num_hashes, bands),
        "shingles": sh,
        "sizes": sh.groupBy("id").agg(F.count("*").alias("n_ref")),
    }
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{path}/{name}.parquet")
    commit.mark(path, _index_format(n, num_hashes, bands))


def extend_dedup_index(
    kept: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> None:
    """APPEND a batch of newly kept documents to a persisted index —
    the grow-the-corpus half of day-2 ingestion: after
    :func:`dedup_against_index` flags a batch, its ``kept`` survivors
    join the reference so tomorrow's arrivals dedup against them too.
    Cost is proportional to the batch (same derivations as the build,
    over the batch only); the corpus index is never rewritten. The
    parameters must match the original build.

    IDEMPOTENT under retries and overlapping batches: ids already in
    the persisted ``sizes`` table are anti-joined away before anything
    is derived, and ``sizes`` is written LAST — so its ids mark fully
    committed documents. A crash between the four appends leaves
    partial rows for the batch's ids, but the retry (ids still absent
    from ``sizes``) re-appends them, and every duplicated row class is
    harmless to decisions: fingerprints are distinct-ed at read,
    bucket duplicates collapse in the candidate ``distinct``, shingle
    duplicates collapse in the ``countDistinct`` intersection, and
    ``sizes`` rows are deduped at read. :func:`compact_dedup_index`
    reclaims the space.

    CONCURRENCY CONTRACT — single writer, decision-safe readers: at
    most ONE writer (write/extend/compact) may run against an index at
    a time; coordinate writers outside the engine (the scheduler that
    owns day-2 ingestion, a queue, or an advisory lease on the index
    path). Two concurrent extends can both pass the ``sizes``
    anti-join for the same ids and double-append them — decisions stay
    correct (every duplicated row class collapses at read, above) but
    the retry-idempotency accounting is voided and space leaks; an
    extend racing a compact can append rows AFTER the compact read
    its tables, and the compact's index swap then drops them — a lost
    update, the one genuinely unsafe interleaving. READERS need no
    coordination: appends only add rows (a reader that listed files
    earlier decides against the slightly older corpus — the same
    answer it would have produced a moment before), and compaction
    preserves each table's logical content, so even a reader that
    catches a MIX of pre- and post-compact tables computes identical
    decisions; a reader that catches the compact's swap window or a
    deleted file fails LOUDLY (missing path/file) and succeeds on
    retry. Pinned by
    ``tests/test_ext20.py::test_reader_racing_compact_identical_or_loud``."""
    from pyspark.errors import AnalysisException

    _check_index_format(path, n, num_hashes, bands)
    spark = kept.sparkSession
    kept_new = kept
    try:
        committed = spark.read.parquet(f"{path}/sizes.parquet").select(
            F.col("id").alias("__committed_id")
        )
        from vmware_graph_spark.operators.pin import pinned

        # pin one consistent batch across the four table writes —
        # persist(DISK_ONLY)+count rather than localCheckpoint so an
        # executor loss mid-extend recomputes from lineage (the
        # anti-join re-reads ``sizes``, which this extend only appends
        # to AFTER everything else — recompute sees unchanged input
        # under the single-writer contract; round-6 VERDICT #5)
        kept_new = pinned(
            kept.join(
                committed,
                kept[id_col] == F.col("__committed_id"),
                "left_anti",
            )
        )
    except AnalysisException as e:
        # Only the missing-path case means "nothing committed yet" —
        # any other failure (corrupt footer, transient FS error) must
        # propagate, or a broken index silently double-appends with
        # the anti-join and checkpoint pin disabled (round-5 ADVICE).
        msg = str(e)
        if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
            raise
    try:
        sh = _shingle_table(kept_new, id_col, text_col, n)
        tables = {  # sizes LAST: its ids are the commit marker
            "fingerprints": kept_new.select(
                fingerprint(text_col).alias("__fp")
            ).distinct(),
            "buckets": _band_buckets(_minhash_sig(sh, num_hashes), num_hashes, bands),
            "shingles": sh,
            "sizes": sh.groupBy("id").agg(F.count("*").alias("n_ref")),
        }
        for name, df in tables.items():
            df.write.mode("append").parquet(f"{path}/{name}.parquet")
    finally:
        kept_new.unpersist()  # no-op on the nothing-committed-yet path


def compact_dedup_index(spark, path: str) -> None:
    """Rewrite an appended index into canonical deduplicated form —
    the space-reclaim pass after crash-retried or heavily grown
    extends: fingerprints/buckets/shingles distinct, sizes reduced to
    one row per id. Decisions are identical before and after (the read
    path already tolerates the duplicates; test-pinned in
    ``tests/test_ext20.py::test_crash_retried_index_tolerated_and_compacted``).

    The whole index compacts into the sibling ``path.staging``, is
    marked, and replaces ``path`` in one ``commit.swap_in`` — never an
    in-place overwrite of the files being read (a mid-job executor loss
    during an in-place overwrite would lose both the lineage source and
    the already-deleted originals). ``commit.stage`` first repairs a
    compact that died inside the swap (restoring ``path.old``, else a
    marked ``path.staging``), so no crash point deletes the only copy.

    Runs under the index's single-WRITER contract (see
    :func:`extend_dedup_index`): never concurrently with an extend —
    rows appended after this compact read a table would be dropped by
    the swap. Readers may overlap freely: the swap is atomic per index,
    so an in-flight reader sees the pre- or the post-compact index —
    decision-identical, because compaction only removes duplicate rows
    the read path already collapses — or fails loudly on a vanished
    file, never answers wrong."""
    staging = commit.stage(path)
    meta = commit.read_mark(path, "dedup index")
    for name in INDEX_TABLES:
        df = spark.read.parquet(f"{path}/{name}.parquet")
        if name == "sizes":
            df = df.groupBy("id").agg(F.max("n_ref").alias("n_ref"))
        else:
            df = df.distinct()
        df.write.parquet(f"{staging}/{name}.parquet")
    commit.mark(staging, meta)
    commit.swap_in(staging, path)


def dedup_against_index(
    new: DataFrame,
    spark,
    path: str,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """:func:`dedup_against` against a PERSISTED index (see
    :func:`write_dedup_index`): identical per-document decisions —
    pinned by sharing the same oracle SQL — with per-batch cost that
    reads only index parquet, never the corpus text. The ``n``/
    ``num_hashes``/``bands`` must match the index build (they
    parameterize what was persisted) — ENFORCED via the index's
    commit marker, which also pins the hash family."""
    _check_index_format(path, n, num_hashes, bands)
    return _dedup_decisions(
        new,
        id_col,
        text_col,
        ref_fp=spark.read.parquet(f"{path}/fingerprints.parquet"),
        ref_buckets=spark.read.parquet(f"{path}/buckets.parquet"),
        ref_shingles=spark.read.parquet(f"{path}/shingles.parquet"),
        # dedupe at read: a crash-retried extend can leave an id's size
        # row twice; a duplicated size row would fan out the verify join
        ref_sizes=spark.read.parquet(f"{path}/sizes.parquet")
        .groupBy("id")
        .agg(F.max("n_ref").alias("n_ref")),
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        verify_threshold=verify_threshold,
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 48,
    max_hamming: int = 3,
    pieces: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius, via piece-table join.

    Pigeonhole: if hamming(a,b) ≤ max_hamming < pieces, at least one of
    the ``pieces`` signature slices is identical — so candidates come
    from an equi-join on (piece index, piece value), never all-pairs.
    Candidates are then verified with an exact popcount. Requires
    ``max_hamming < pieces``.
    """
    if max_hamming >= pieces:
        raise ValueError("pigeonhole requires max_hamming < pieces")
    width = bits // pieces
    sig = simhash(df, id_col, text_col, bits=bits)
    slices = [
        F.struct(
            F.lit(i).alias("piece"),
            F.shiftright(F.col("simhash"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("value"),
        )
        for i in range(pieces)
    ]
    tab = sig.select("id", "simhash", F.explode(F.array(*slices)).alias("p")).select(
        "id", "simhash", F.col("p.piece").alias("piece"), F.col("p.value").alias("value")
    )
    a, b = tab.alias("a"), tab.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.piece") == F.col("b.piece"))
            & (F.col("a.value") == F.col("b.value"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def cosine_pairs_exact(
    df: DataFrame, id_col: str, vec_col: str, *, threshold: float = 0.9
) -> DataFrame:
    """Embedding-cosine near-dup pairs — exact all-pairs baseline.

    O(n²) by construction: the correctness oracle for
    :func:`cosine_pairs_lsh`, which is the 100 TB path. Use only on
    broadcast-small inputs.
    """
    from vmware_graph_spark.functions.vector import as_double_vec, cosine

    a = df.select(F.col(id_col).alias("id_a"), as_double_vec(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), as_double_vec(vec_col).alias("__vb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("__va"), F.col("__vb")))
    )
    return pairs.filter(F.col("cos") >= threshold).select("id_a", "id_b", "cos")


def cosine_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    threshold: float = 0.9,
    planes: int = 8,
    nprobe: int = 9,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-LSH blocking.

    Vectors are bucketed by random-hyperplane sign hash; pairs are
    scored only within a bucket (plus Hamming-1 probe buckets), so cost
    is Σ bucket² instead of n². High-cosine pairs share most hyperplane
    signs, so recall at threshold ≥0.9 is near-1 with 8 planes + probes.
    """
    from vmware_graph_spark.functions.vector import as_double_vec, cosine
    from vmware_graph_spark.operators.similarity import _probe_buckets, hyperplane_bucket

    bucket = hyperplane_bucket(vec_col, dim, planes)
    a = df.select(
        F.col(id_col).alias("id_a"),
        as_double_vec(vec_col).alias("__va"),
        F.explode(_probe_buckets(bucket, planes, nprobe)).alias("__bucket"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        as_double_vec(vec_col).alias("__vb"),
        bucket.alias("__bucket"),
    )
    pairs = (
        a.join(b, "__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__va", "__vb")
        .distinct()
        .withColumn("cos", cosine(F.col("__va"), F.col("__vb")))
    )
    return pairs.filter(F.col("cos") >= threshold).select("id_a", "id_b", "cos")


# Packed per-bit counters for simhash: 3 lanes of 20 bits per 64-bit
# aggregation buffer. Lane sums stay exact while every document has
# fewer than 2^20 tokens (guarded loudly below); 3×20=60 bits leaves
# the long's sign bit and headroom untouched.
_SIMHASH_LANES = 3
_SIMHASH_LANE_W = 20


def simhash(df: DataFrame, id_col: str, text_col: str, *, bits: int = 64) -> DataFrame:
    """(id, simhash: bigint) — sign-of-sum fingerprint over token hashes.

    One aggregation (single shuffle), with the per-bit counters PACKED
    three-to-a-long in 20-bit lanes: summing longs adds the lanes
    independently, so ⌈bits/3⌉+1 aggregation buffers replace bits+1 —
    ~3× fewer buffer updates per token row and ~3× fewer shuffle bytes
    through the partial agg (guide §2.3, narrower state). Per bit, the
    lane holds the RAW bit-count c_i; the classic ±1 sign test is
    2·c_i > n for token count n, so fingerprints are bit-identical to
    the unpacked form. Lane arithmetic is exact below 2^20 tokens per
    document — enforced with a loud raise_error, never silently wrong.
    """
    tok = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok"))
    h = _md5_hash64(F.col("tok"), 0)
    tok = tok.withColumn("h", h)
    n_packs = (bits + _SIMHASH_LANES - 1) // _SIMHASH_LANES
    # The pack/sig expression trees are built as SQL strings parsed in
    # ONE py4j call each, not per-bit Column-API chains: the chain form
    # issued ~650 py4j roundtrips per invocation (~1.2 s of driver time
    # at bits=48, ~70% of this operator's wall — measured, r13) while
    # producing the same Catalyst expressions.
    packs = []
    for j in range(n_packs):
        terms = [
            f"shiftleft(shiftright(h, {i}) & 1, {k * _SIMHASH_LANE_W})"
            for k in range(_SIMHASH_LANES)
            if (i := j * _SIMHASH_LANES + k) < bits
        ]
        packs.append(F.expr(" | ".join(terms)))
    agg = tok.groupBy("id").agg(
        *[F.sum(p).alias(f"p{j}") for j, p in enumerate(packs)],
        F.count("*").alias("__n"),
    )
    guard = (
        f"CASE WHEN __n >= {1 << _SIMHASH_LANE_W} THEN "
        "raise_error('simhash: document exceeds 2^20 tokens; packed lanes "
        "would overflow') ELSE __n END"
    )
    mask = (1 << _SIMHASH_LANE_W) - 1
    bit_terms = []
    for i in range(bits):
        j, k = divmod(i, _SIMHASH_LANES)
        c = f"(shiftright(p{j}, {k * _SIMHASH_LANE_W}) & {mask})"
        bit_terms.append(
            f"shiftleft(CASE WHEN ({c} * 2) > ({guard}) "
            "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END, "
            f"{i})"
        )
    return agg.select("id", F.expr(" | ".join(bit_terms)).alias("simhash"))


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Train/test n-gram contamination check.

    For every *test* document, counts how many of its distinct word
    n-grams also occur anywhere in the *train* corpus — the standard
    eval-set decontamination signal (a test doc whose grams are mostly
    covered by training data is leaked). Output: one row per test doc
    ``(test_id, n_grams, n_hit, hit_rate)``.

    Shape: two explode+distinct passes, then ONE hash join keyed on the
    shingle (test grams ⋈ distinct train grams) and one groupBy(test
    id). Cost is linear in corpus gram count — no self-join, no pair
    blowup — so the same plan runs on a 100 TB train corpus; the train
    side is reduced to distinct grams first, which is the smaller
    relation and the natural build side.
    """
    tr = (
        _shingle_table(train, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    te = _shingle_table(test, id_col, text_col, n)
    joined = te.join(tr, "shingle", "left")
    return (
        joined.groupBy(F.col("id").alias("test_id"))
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hit"),
        )
        .withColumn(
            "hit_rate",
            F.round(F.col("n_hit").cast("double") / F.col("n_grams").cast("double"), 6),
        )
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    *,
    threshold: float = 0.9,
) -> DataFrame:
    """Within-cluster embedding-cosine duplicate pairs (SemDeDup blocking).

    The semantic-dedup design from the SemDeDup line of work: vectors
    are first partitioned into clusters (k-means assignment — here any
    precomputed ``cluster_col``, e.g. ``assign_to_centroids``'s output
    or a fixture label), and cosine similarity is computed ONLY inside
    a cluster. Cost is Σ|cluster|² instead of n² — the clustering is
    what makes embedding dedup feasible at 100 TB, and cluster size is
    the skew knob (cap or split over-large clusters).
    """
    from vmware_graph_spark.functions.vector import as_double_vec, cosine

    t = df.select(
        F.col(id_col).alias("id"),
        F.col(cluster_col).alias("cl"),
        as_double_vec(vec_col).alias("__v"),
    )
    a, b = t.alias("a"), t.alias("b")
    pairs = (
        a.join(b, (F.col("a.cl") == F.col("b.cl")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.cl").alias("cluster"),
            cosine(F.col("a.__v"), F.col("b.__v")).alias("cos"),
        )
    )
    return pairs.filter(F.col("cos") >= threshold)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    *,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup keep/drop decision: flag every row, min-id survivor rule.

    A row is dropped when some SAME-CLUSTER row with a smaller id is
    within the cosine threshold (the deterministic greedy used by
    cluster-blocked semantic dedup — one representative per near-dup
    neighborhood, no iterative clustering). Returns the full input id
    set with a ``kept`` flag so downstream filters/audits see both
    sides of the decision.
    """
    dropped = (
        semantic_dedup_pairs(df, id_col, vec_col, cluster_col, threshold=threshold)
        .select(F.col("id_b").alias("__drop_id"))
        .distinct()
    )
    return (
        df.join(dropped, F.col(id_col) == F.col("__drop_id"), "left")
        .withColumn("kept", F.col("__drop_id").isNull())
        .drop("__drop_id")
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    *,
    max_distance: int = 3,
    block=None,
    spread: bool = False,
) -> DataFrame:
    """Blocked fuzzy-duplicate pairs by Levenshtein edit distance.

    The entity-resolution primitive behind name/title dedup: candidate
    pairs come from an equi-join on a blocking key (default: the name's
    last whitespace token — the head noun for product/entity names),
    NEVER an all-pairs cross join; the O(len²) edit-distance kernel runs
    only inside blocks. Hot blocks are this operator's skew knob — the
    same contract as ``jaccard_pairs(max_df=...)``: cap or salt
    over-large blocks at scale. JVM-side throughout (``F.levenshtein``
    is a codegen'd built-in).

    ``spread`` is OPT-IN (same contract as ``merge_edges(spread=...)``):
    the under-parallel-probe check needs ``t.rdd.getNumPartitions()``,
    which physically plans the input lineage on the driver — fine for a
    plain scan, wasteful for deep-lineage (store-derived / pipeline)
    inputs that would otherwise be planned twice per call. Pass
    ``spread=True`` when the input is a shallow scan that may arrive in
    fewer partitions than cores (e.g. one-row-group fixtures).
    """
    b = (
        block
        if block is not None
        else F.element_at(F.split(F.col(name_col), r"\s+"), -1)
    )
    t = df.select(
        F.col(id_col).alias("id"), F.col(name_col).alias("name"), b.alias("blk")
    )
    # Spread the PROBE side when the input scan yields fewer partitions
    # than cores: broadcast-sized inputs plan as a broadcast join whose
    # pair generation + edit-distance kernel run entirely on the stream
    # side's partitions, so a single-row-group scan serialized the whole
    # O(pairs × band) kernel on one core (measured 55 s → 4.3 s at
    # sf0.1 with the spread; the build side stays the un-repartitioned
    # branch, so the planner still broadcasts it — BuildRight in the
    # plan). At production scale the scan already yields ≥ cores
    # partitions and this is a planning-only no-op.
    probe = t
    if spread:
        target = df.sparkSession.sparkContext.defaultParallelism
        if t.rdd.getNumPartitions() < target:
            probe = t.repartition(target, F.col("id"))
    a, c = probe.alias("a"), t.alias("b")
    # BANDED Levenshtein (threshold form): O(max_distance · len) per
    # pair instead of O(len²). Pairs beyond the threshold return -1 —
    # excluded by the >= 0 guard exactly as the plain form's
    # <= max_distance filter excluded them; surviving pairs carry their
    # exact distance, so results are identical row-for-row.
    d = F.levenshtein(F.col("a.name"), F.col("b.name"), max_distance)
    return (
        a.join(c, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            d.alias("distance"),
        )
        .filter((F.col("distance") >= 0) & (F.col("distance") <= max_distance))
    )
