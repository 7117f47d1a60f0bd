"""Round-12 continuation: the page-structure family — per-page
boilerplate removal and its compositions (batch, streaming, budget),
a mojibake audit, host-graph authority for crawl ordering, magic-byte
media typing, IDN frontier hygiene, and the CCNet perplexity-bucket
split — pipeline stages a 100 TB corpus build runs that the registry
did not yet cover.

(a) ``boilerplate_block_classify`` — jusText/Boilerpipe-style
structural block classification (Kohlschütter et al., WSDM 2010;
Pomikálek 2011): pages split at block-tag boundaries, each block is
scored by link density + text length, nav/footer/link-list blocks
drop. This is the PER-PAGE structural pass that
``functions/text.py::html_to_text`` explicitly deferred; the
corpus-level pass (``dedup_lines_corpus``) composes after it.

(b) ``mojibake_artifact_audit`` — the three decode-chain tells
(U+FFFD, the Ã/Â double-UTF-8 signature, bare C1 controls) counted
per source: the data-quality census a crawl corpus runs before
training, as pure Catalyst ``rlike`` over portable ``\\x{....}``
classes.

(c) ``host_authority_pagerank`` — the crawl-ordering signal of the
original PageRank paper (Page et al., 1999 — "crawl in rank order"):
extract_links → resolve → host-grain edge contraction → the engine's
integer-fixpoint weighted PageRank, hash-exact against an
unrolled-CTE oracle.

(d) ``ccnet_perplexity_buckets`` — CCNet's head/middle/tail split
(Wenzek et al., LREC 2020): per-language perplexity-proxy tertiles
over the existing ``unigram_logprob`` score, the bucketing that lets
a pipeline keep head+middle and drop tail by a single filter.

(e) ``content_extraction_pipeline`` — (a) composed to its real
output: boilerplate blocks dropped, content blocks reassembled in
original order, the extracted text md5-pinned byte-for-byte.

(f) ``media_type_sniff`` — magic-byte typing of binary assets
(published file signatures; transport metadata lies), and
(g) ``idn_host_audit`` — ACE-label and mixed-script homograph tells
for frontier hygiene (RFC 3490 spelling, confusable precondition).

(h) ``streaming_content_extract`` — the block chain as a REAL
availableNow WARC stream: per-page higher-order array functions (no
explode, no streaming aggregation), exactly-once parquet sink, rollup
pinned to doc_id arithmetic on a SECOND page template.

(i) ``authority_weighted_budget`` — (c) composed to its purpose:
rank_micros feeds Hamilton apportionment directly as integer weights
("crawl in rank order" as fetch-slot allocation), the authority twin
of ``reputation_weighted_budget``.

All oracles derive expected values from SOURCE-column arithmetic (or
the shared unrolled fixpoint / whitespace-token conventions) — never
by re-running the implementation's regexes.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from vmware_graph_spark.queries import query
from vmware_graph_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# (a) structural boilerplate
# ---------------------------------------------------------------------------


def _fixture_page_html(text=None):
    """The ext26 page as a Catalyst concat over documents columns:
    pure-link nav, short ``<h1>``, the prose ``<p>`` (``text`` column
    by default; pass a Column — e.g. a literal — to ride other prose,
    as the scalebench does), a mixed citation block whose
    ``doc_id % 9`` padding straddles both classification thresholds,
    and a link-heavy footer."""
    i = F.col("doc_id").cast("string")
    q = (F.col("doc_id") % 10).cast("string")
    if text is None:
        text = F.col("text")
    return F.concat(
        F.lit(
            '<html><body><div class="nav"><a href="/">Home</a>'
            ' <a href="/about">About us</a>'
            ' <a href="/contact">Contact</a></div><h1>Doc '
        ),
        i,
        F.lit("</h1><p>"),
        text,
        F.lit('</p><p>See <a href="/ref/'),
        i,
        F.lit('">reference '),
        q,
        F.lit("</a>"),
        F.repeat(F.lit(" pad"), (F.col("doc_id") % 9).cast("int")),
        F.lit(
            '</p><div class="footer"><a href="/tos">Terms</a>'
            ' <a href="/privacy">Privacy</a> (c) 2026</div></body></html>'
        ),
    )


@query(
    "boilerplate_block_classify",
    """
    SELECT doc_id,
           CAST(5 AS BIGINT) AS n_blocks,
           CAST(CASE WHEN n_chars >= 20 THEN 1 ELSE 0 END
                + CASE WHEN doc_id % 9 >= 2 THEN 1 ELSE 0 END AS BIGINT)
             AS n_content,
           CAST(5 - CASE WHEN n_chars >= 20 THEN 1 ELSE 0 END
                - CASE WHEN doc_id % 9 >= 2 THEN 1 ELSE 0 END AS BIGINT)
             AS n_boiler,
           CAST(CASE WHEN n_chars >= 20 THEN n_chars ELSE 0 END
                + CASE WHEN doc_id % 9 >= 2
                       THEN 15 + 4 * (doc_id % 9) ELSE 0 END AS BIGINT)
             AS content_chars
    FROM documents
    """,
)
def boilerplate_block_classify(spark, sf_dir):
    """Per-page structural boilerplate classification (the jusText /
    Boilerpipe shallow-feature core): each page splits at block-tag
    CLOSERS (markup stays inside its fragment so per-block features
    see the anchors), each block gets link density (anchor-text chars /
    visible chars) and raw length, and the two-rule heuristic —
    majority-anchor OR sub-sentence ⇒ boilerplate — drops nav bars,
    footers and link lists while keeping prose.

    Fixture: every document rides as the content ``<p>`` of a page
    whose other four blocks are engineered from doc_id arithmetic —
    a pure-link nav (density ≈ .90), a short ``<h1>``, a mixed
    citation block whose padding ``doc_id % 9`` repetitions put it on
    either side of BOTH thresholds (m ≤ 1 ⇒ boilerplate, m ≥ 2 ⇒
    content: density 11/(15+4m), length 15+4m), and a link-heavy
    footer (density 12/22) — so the oracle derives every count and
    the content-char total from doc_id/n_chars arithmetic alone.

    Scale: one generated column, one posexplode (blocks-per-page is a
    small constant), per-block regexp features inside whole-stage
    codegen, one groupBy(doc_id) — linear, no UDF, no driver work;
    at 100 TB this is the same shape as html_to_text extraction."""
    from vmware_graph_spark.functions.text import (
        anchor_text_chars,
        classify_block,
        html_blocks,
        html_to_text,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    html = _fixture_page_html()
    blocks = d.select(
        "doc_id", F.explode(html_blocks(html)).alias("frag")
    ).select(
        "doc_id",
        F.length(html_to_text("frag")).alias("n"),
        anchor_text_chars("frag").alias("a"),
    ).filter(F.col("n") > 0)
    cls = blocks.withColumn("cls", classify_block(F.col("n"), F.col("a")))
    is_content = (F.col("cls") == "content").cast("long")
    return cls.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum(is_content).alias("n_content"),
        (F.count("*") - F.sum(is_content)).cast("long").alias("n_boiler"),
        F.sum(F.when(F.col("cls") == "content", F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("content_chars"),
    )


# ---------------------------------------------------------------------------
# (b) mojibake audit
# ---------------------------------------------------------------------------


@query(
    "mojibake_artifact_audit",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_replacement,
           CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_double_utf8,
           CAST(sum(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_c1_controls,
           CAST(sum(CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 <> 0
                          AND doc_id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clean
    FROM documents GROUP BY source
    """,
)
def mojibake_artifact_audit(spark, sf_dir):
    """Encoding-artifact census per source — the pre-training
    data-quality pass that catches broken decode chains before they
    poison a corpus: U+FFFD (a decoder already substituted), the
    Ã/Â-plus-continuation double-UTF-8 signature, and bare C1
    controls (no correct decode emits U+0080-U+009F; cp1252-as-Latin-1
    mixups do). Detectors are pure Catalyst ``rlike`` over portable
    ``\\x{....}`` classes (the SCRIPT_RANGES portability move).

    Fixture: the base corpus is verified printable-ASCII, so injected
    artifacts (every 11th doc gets U+FFFD, every 13th a double-encoded
    "é", every 17th a NEL) are the ONLY matches and the oracle counts
    them from doc_id arithmetic — intent-pinned, never re-running the
    detector. Scale: three regexes in one codegen stage + one
    groupBy(source); linear, broadcast-free."""
    from vmware_graph_spark.functions.text import (
        has_c1_controls,
        has_double_utf8,
        has_replacement_char,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" \ufffd")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0, F.lit(" \u00c3\u00a9")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 17 == 0, F.lit(" \u0085")).otherwise(F.lit("")),
    )
    flags = d.select(
        "source",
        has_replacement_char(aug).cast("long").alias("f_repl"),
        has_double_utf8(aug).cast("long").alias("f_dbl"),
        has_c1_controls(aug).cast("long").alias("f_c1"),
    )
    clean = (
        (F.col("f_repl") == 0) & (F.col("f_dbl") == 0) & (F.col("f_c1") == 0)
    ).cast("long")
    return flags.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("f_repl").alias("n_replacement"),
        F.sum("f_dbl").alias("n_double_utf8"),
        F.sum("f_c1").alias("n_c1_controls"),
        F.sum(clean).alias("n_clean"),
    )


# ---------------------------------------------------------------------------
# (c) host-graph authority
# ---------------------------------------------------------------------------


def _host_pagerank_ctes(iters: int) -> str:
    """Unrolled weighted-PageRank oracle CTEs (no WITH, no final
    SELECT — shared by the rank query and the budget composition) over
    the host link graph the fixture's arithmetic defines: page on host
    ``site(doc_id%23)`` links to ``site((7·doc_id+3)%23)`` always and
    to ``site((5·doc_id+11)%23)`` on every third doc; self-links drop.
    Same integer-fixpoint convention as
    ``queries.py::_pagerank_weighted_sql`` (scale 1e6, damping 85,
    per-edge floor division, dangling mass redistributed)."""
    ctes = [
        "e0 AS (SELECT 'site' || (doc_id % 23) || '.example.com' AS src, "
        "'site' || ((doc_id * 7 + 3) % 23) || '.example.com' AS dst "
        "FROM documents "
        "UNION ALL "
        "SELECT 'site' || (doc_id % 23) || '.example.com', "
        "'site' || ((doc_id * 5 + 11) % 23) || '.example.com' "
        "FROM documents WHERE doc_id % 3 = 0)",
        "e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM e0 "
        "WHERE src <> dst GROUP BY src, dst)",
        "v AS (SELECT src AS id FROM e UNION SELECT dst FROM e)",
        "degw AS (SELECT src, sum(w) AS out_w FROM e GROUP BY src)",
        "nv AS (SELECT count(*) AS n FROM v)",
        "r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM v)",
    ]
    for i in range(iters):
        ctes.append(
            f"d{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM r{i} "
            "WHERE id NOT IN (SELECT src FROM degw))"
        )
        ctes.append(
            f"r{i + 1} AS (SELECT v.id, CAST(150000 + (85 * (coalesce(s.in_sum, 0) "
            f"+ (SELECT dm FROM d{i}) // (SELECT n FROM nv))) // 100 AS BIGINT) AS rank "
            "FROM v LEFT JOIN (SELECT e.dst AS id, sum((r.rank * e.w) // degw.out_w) AS in_sum "
            f"FROM e JOIN r{i} r ON e.src = r.id JOIN degw ON e.src = degw.src "
            "GROUP BY e.dst) s ON v.id = s.id)"
        )
    return ",\n".join(ctes)


def _host_pagerank_sql(iters: int) -> str:
    return (
        "WITH " + _host_pagerank_ctes(iters)
        + f"\nSELECT id AS host, rank AS rank_micros FROM r{iters}"
    )


@query("host_authority_pagerank", _host_pagerank_sql(4))
def host_authority_pagerank(spark, sf_dir):
    """Crawl ordering by host authority — the original use of PageRank
    (Page et al. 1999: fetch the frontier in rank order and important
    pages arrive early): the REAL link-extraction chain
    (``extract_links`` → ``resolve_href`` → ``url_host``) contracts
    page links to the HOST grain, self-links drop, multiplicity
    becomes integer edge weight, and the engine's integer-fixpoint
    weighted PageRank (``pagerank_weighted_fixed``, 4 rounds) produces
    a deterministic rank_micros per host — hash-exact against the
    unrolled-CTE oracle, unlike float PageRank which is rows-only by
    design.

    Fixture arithmetic: host ``site(k)`` always links to
    ``site((7k+3)%23)`` (7 is invertible mod 23 so every host has
    in-links) and, on every third doc, to ``site((5k+11)%23)`` — two
    distinct out-targets with UNEQUAL weights, so the weighted split
    is genuinely exercised; host 11's primary target is itself, so
    after the self-link filter its out-mass rides only the secondary
    edge. Scale: host-grain contraction shrinks the graph by the
    pages-per-host factor BEFORE the iteration (the only sane order at
    100 TB — iterate on hosts, not pages); each round is one shuffle
    on a hosts-sized table."""
    from vmware_graph_spark.analytics.algos import pagerank_weighted_fixed
    from vmware_graph_spark.functions.url import (
        extract_links,
        resolve_href,
        url_host,
        url_scheme,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 23).cast("string")
    h1 = ((F.col("doc_id") * 7 + 3) % 23).cast("string")
    h2 = ((F.col("doc_id") * 5 + 11) % 23).cast("string")
    page_url = F.concat(
        F.lit("http://site"), k, F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"),
    )
    body = F.concat(
        F.lit('<html><body><a href="http://site'), h1,
        F.lit('.example.com/">primary</a>'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<a href="http://site'), h2,
                F.lit('.example.com/">secondary</a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = d.select(page_url.alias("url"), body.alias("html"))
    links = pages.select(
        url_scheme("url").alias("s"),
        url_host("url").alias("src_host"),
        F.explode(extract_links("html")).alias("l"),
    )
    resolved = links.select(
        "src_host",
        url_host(resolve_href(F.col("s"), F.col("src_host"), F.col("l.href"))).alias(
            "dst_host"
        ),
    ).filter(F.col("dst_host").isNotNull() & (F.col("src_host") != F.col("dst_host")))
    edges = resolved.groupBy(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    ).agg(F.count("*").cast("long").alias("w"))
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    ranks = pagerank_weighted_fixed(vertices, edges, iters=4)
    return ranks.select(F.col("id").alias("host"), "rank_micros")


# ---------------------------------------------------------------------------
# (d) CCNet perplexity buckets
# ---------------------------------------------------------------------------

_TOKS_SQL = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"


@query(
    "ccnet_perplexity_buckets",
    rf"""
    WITH tok AS (
      SELECT doc_id AS id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS tf FROM tok GROUP BY tok),
    total AS (SELECT sum(tf) AS n_total FROM vocab),
    scored AS (
      SELECT id, count(*) AS n_tok,
             round(CAST(sum(round(ln(tf::DOUBLE / n_total::DOUBLE), 6)::DECIMAL(18,6)) AS DOUBLE)
                   / count(*)::DOUBLE, 6) AS mean_logprob
      FROM tok JOIN vocab USING (tok) CROSS JOIN total GROUP BY id
    ),
    tiled AS (
      SELECT d.lang, s.n_tok, s.mean_logprob,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY s.mean_logprob DESC, s.id) AS tile
      FROM scored s JOIN documents d ON d.doc_id = s.id
    )
    SELECT lang,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(CAST(sum(mean_logprob::DECIMAL(18,6)) AS DOUBLE)
                 / count(*), 6) AS avg_logprob
    FROM tiled GROUP BY lang, tile
    """,
)
def ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet's head/middle/tail corpus split (Wenzek et al., LREC
    2020): within each language, documents rank by a perplexity proxy
    (the corpus-unigram mean log-probability that
    ``unigram_logprob_quality`` already pins) and fall into tertiles —
    ``head`` is the cleanest third a pipeline always keeps, ``tail``
    the third it drops or down-samples. Per-language ntile(3) over
    (score DESC, doc_id) is a total order, so the bucketing is a pure
    function of the corpus; per-bucket aggregates accumulate
    round(·,6) decimals so partition order cannot move low bits.

    Scale: scoring is two hash aggs + a broadcast vocab join (linear);
    the tertile window partitions by language — at 100 TB one would
    swap ntile for the quantile-cutoff two-pass (approx threshold then
    filter), but the per-language partition already bounds each window
    to a language's documents, and the bucketing's downstream (keep
    head+middle) is a single filter either way."""
    from vmware_graph_spark.operators.quality import unigram_logprob

    d = load_table(spark, sf_dir, "documents")
    scored = unigram_logprob(d, "doc_id", "text")
    j = scored.join(
        d.select("doc_id", "lang"), scored["id"] == F.col("doc_id")
    ).select("lang", "n_tok", "mean_logprob", "id")
    w = Window.partitionBy("lang").orderBy(
        F.col("mean_logprob").desc(), F.col("id")
    )
    tiled = j.withColumn("tile", F.ntile(3).over(w))
    bucket = (
        F.when(F.col("tile") == 1, F.lit("head"))
        .when(F.col("tile") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        tiled.withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.round(
                F.sum(F.col("mean_logprob").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# (e) composed: boilerplate-filtered content extraction
# ---------------------------------------------------------------------------


@query(
    "content_extraction_pipeline",
    r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                + CASE WHEN doc_id % 9 >= 2 THEN 3 + doc_id % 9 ELSE 0 END
                AS BIGINT) AS content_tokens,
           md5(text || CASE WHEN doc_id % 9 >= 2
                            THEN ' See reference ' || (doc_id % 10)
                                 || repeat(' pad', doc_id % 9)
                            ELSE '' END) AS content_md5
    FROM documents
    """,
)
def content_extraction_pipeline(spark, sf_dir):
    """The composed extraction a WET-style corpus build runs per page:
    split into blocks, classify (link density + length), DROP the
    boilerplate blocks, and reassemble the surviving content text in
    ORIGINAL block order — the output a text pipeline tokenizes. Order
    preservation is the subtle part: posexplode carries each block's
    position, and the per-page reassembly sorts collected (pos, text)
    structs before joining — never relying on shuffle order.

    On the ext26 fixture the content set is the document prose plus
    (when ``doc_id % 9 >= 2``) the mixed citation block, so the oracle
    rebuilds the exact reassembled string from source columns — the
    md5 pins every byte, boundary whitespace included — and derives
    the token count from the standard whitespace-token twin plus
    3 + m citation tokens.

    Scale: identical shape to ``boilerplate_block_classify`` plus one
    collect_list per page (bounded by blocks-per-page, a small
    constant) — linear, one shuffle, no UDF."""
    from vmware_graph_spark.functions.text import (
        anchor_text_chars,
        classify_block,
        html_blocks,
        html_to_text,
        tokens,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    html = _fixture_page_html()
    blocks = d.select(
        "doc_id", F.posexplode(html_blocks(html)).alias("pos", "frag")
    ).select(
        "doc_id",
        "pos",
        html_to_text("frag").alias("txt"),
        anchor_text_chars("frag").alias("a"),
    ).withColumn("n", F.length("txt")).filter(F.col("n") > 0)
    content = blocks.filter(
        classify_block(F.col("n"), F.col("a")) == "content"
    )
    pages = content.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "txt"))),
                lambda s: s["txt"],
            ),
        ).alias("content_text")
    )
    return pages.select(
        "doc_id",
        F.size(tokens("content_text")).cast("long").alias("content_tokens"),
        F.md5(F.col("content_text")).alias("content_md5"),
    )


# ---------------------------------------------------------------------------
# (f) magic-byte media typing + (g) IDN frontier hygiene
# ---------------------------------------------------------------------------


@query(
    "media_type_sniff",
    """
    SELECT doc_id,
           CASE doc_id % 5
                WHEN 0 THEN 'image/gif'
                WHEN 1 THEN 'image/png'
                WHEN 2 THEN 'audio/x-wav'
                WHEN 3 THEN 'image/jpeg'
                ELSE 'application/octet-stream'
           END AS mime
    FROM documents
    """,
)
def media_type_sniff(spark, sf_dir):
    """Magic-byte media typing at ingestion — transport metadata lies
    (mislabelled Content-Type, renamed extensions), so a multimodal
    pipeline types every binary from its FIRST BYTES before routing to
    a decoder. The fixture synthesizes the binary IN-ENGINE via
    ``unhex`` from doc_id arithmetic: GIF (87a and 89a alternating by
    parity — both must sniff as image/gif), PNG's 8-byte signature,
    RIFF/WAVE with a doc-dependent size field the sniffer must skip,
    JPEG SOI, and plain text for the octet-stream fallback; every
    asset carries a doc-dependent payload tail so no two binaries are
    equal. The oracle maps doc_id % 5 to the expected type — the
    sniffer is never re-run. Pure Catalyst hex-prefix compare; linear,
    no UDF (the point at 100 TB of assets)."""
    from vmware_graph_spark.operators.multimodal import sniff_media_type

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    payload = F.lpad(F.hex(F.col("doc_id")), 16, "0")
    gif = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("474946383761")).otherwise(
            F.lit("474946383961")
        ),
        payload,
    )
    png = F.concat(F.lit("89504E470D0A1A0A"), payload)
    wav = F.concat(
        F.lit("52494646"), F.lpad(F.hex(F.col("doc_id") % 65536), 8, "0"),
        F.lit("57415645"), payload,
    )
    jpg = F.concat(F.lit("FFD8FFE0"), payload)
    txt = F.concat(F.lit("68656C6C6F20"), payload)  # "hello "
    hexstr = (
        F.when(F.col("doc_id") % 5 == 0, gif)
        .when(F.col("doc_id") % 5 == 1, png)
        .when(F.col("doc_id") % 5 == 2, wav)
        .when(F.col("doc_id") % 5 == 3, jpg)
        .otherwise(txt)
    )
    assets = d.select("doc_id", F.unhex(hexstr).alias("media"))
    return assets.select("doc_id", sniff_media_type("media").alias("mime"))


@query(
    "idn_host_audit",
    """
    SELECT doc_id,
           CASE doc_id % 4
                WHEN 0 THEN 'www.site' || (doc_id % 5) || '.example.com'
                WHEN 1 THEN 'xn--mnchen-3ya.example.com'
                WHEN 2 THEN 's' || chr(1072) || 'le.example.com'
                ELSE 'shop-24.example.com'
           END AS host,
           CAST(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS INTEGER)
             AS is_punycode,
           CAST(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END AS INTEGER)
             AS is_mixed_script
    FROM documents
    """,
)
def idn_host_audit(spark, sf_dir):
    """Frontier hygiene for internationalized hosts: flag ACE labels
    ('xn--', the RFC 3490 encoding every IDN resolves through) and the
    homograph precondition — ASCII letters mixed with non-ASCII
    codepoints in one host ('s\\u0430le' rides a Cyrillic '\\u0430'
    among Latin letters). Fixture hosts come from doc_id % 4 (clean
    www, an ACE label, a mixed-script homograph, a clean
    digit-hyphen host) so the oracle rebuilds the host strings and
    derives both flags from arithmetic — the detectors are never
    re-run. Two ``rlike`` per row, linear, no shuffle beyond the scan."""
    from vmware_graph_spark.functions.url import (
        host_has_punycode,
        host_mixed_script,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    host = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("www.site"), (F.col("doc_id") % 5).cast("string"),
                F.lit(".example.com"),
            ),
        )
        .when(F.col("doc_id") % 4 == 1, F.lit("xn--mnchen-3ya.example.com"))
        .when(F.col("doc_id") % 4 == 2, F.lit("sаle.example.com"))
        .otherwise(F.lit("shop-24.example.com"))
    )
    hosts = d.select("doc_id", host.alias("host"))
    return hosts.select(
        "doc_id",
        "host",
        host_has_punycode("host").cast("int").alias("is_punycode"),
        host_mixed_script("host").cast("int").alias("is_mixed_script"),
    )


# ---------------------------------------------------------------------------
# (h) streaming twin: block classification over a live WARC stream
# ---------------------------------------------------------------------------


@query(
    "streaming_content_extract",
    """
    WITH d AS (
      SELECT doc_id, n_chars, length(CAST(doc_id AS VARCHAR)) AS L
      FROM documents WHERE doc_id % 53 <> 0
    )
    SELECT 'www.site' || (doc_id % 5) || '.example.com' AS host,
           CAST(count(*) AS BIGINT) AS n_pages,
           CAST(2 * count(*) AS BIGINT) AS content_blocks,
           CAST(count(*) AS BIGINT) AS boiler_blocks,
           CAST(sum(n_chars + 18 + 2 * L) AS BIGINT) AS content_chars
    FROM d GROUP BY host
    """,
)
def streaming_content_extract(spark, sf_dir):
    """REAL streaming run of the structural-extraction chain over the
    WARC fleet (the continuous-crawl shape: segments land, pages flow,
    content accumulates): ``read_warc_stream`` (maxFilesPerTrigger=2 →
    four micro-batches over eight archives) → HTTP status gate → block
    split → per-block link-density/length classification — computed
    PER PAGE with higher-order array functions (transform/filter/
    aggregate), no explode and no streaming aggregation, so every page
    is one append row and the sink drains exactly-once under the
    checkpoint. The drained rollup must equal doc_id arithmetic: the
    fleet's page template yields exactly three non-empty blocks — the
    head+h1 run ('Doc {id} Doc "{id}" & more', 18+2·digits chars,
    anchor-free ⇒ content), the document prose (content), and the
    'tail {n_chars}' div (sub-sentence ⇒ boilerplate) — with every
    53rd doc 404-gated. Different template from the ext26 page
    fixture, so the block chain is pinned on a second, WARC-delivered
    HTML shape."""
    import os as _os

    from vmware_graph_spark.crawl_fixture import _warc_fixture_dir
    from vmware_graph_spark.functions.text import (
        anchor_text_chars,
        classify_block,
        html_blocks,
        html_to_text,
    )
    from vmware_graph_spark.functions.url import url_host
    from vmware_graph_spark import commit
    from vmware_graph_spark.sources.warc import read_warc_stream
    from vmware_graph_spark.tmpcache import cache_dir, data_key

    root = _warc_fixture_dir(spark, sf_dir)
    run_dir = cache_dir("content_extract_stream", data_key(sf_dir, "documents"))
    sink = _os.path.join(run_dir, "pages")
    if not commit.marked(run_dir):
        _os.makedirs(run_dir, exist_ok=True)
        recs = read_warc_stream(
            spark, _os.path.join(root, "*.warc"), max_files_per_trigger=2
        )
        feats = F.transform(
            html_blocks(F.col("body").cast("string")),
            lambda b: F.struct(
                F.length(html_to_text(b)).alias("n"),
                anchor_text_chars(b).alias("a"),
            ),
        )
        nonempty = F.filter(feats, lambda s: s["n"] > 0)
        content = F.filter(
            nonempty, lambda s: classify_block(s["n"], s["a"]) == "content"
        )
        page = recs.filter(F.col("http_status") == 200).select(
            url_host("uri").alias("host"),
            F.size(nonempty).cast("long").alias("blocks"),
            F.size(content).cast("long").alias("content_blocks"),
            F.aggregate(
                content, F.lit(0).cast("long"), lambda acc, s: acc + s["n"]
            ).alias("content_chars"),
        )
        q = (
            page.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", _os.path.join(run_dir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            # a marker over a half-drained sink would cache a wrong
            # answer forever — fail loudly instead
            q.stop()
            raise TimeoutError("streaming content extract did not drain in 600s")
        commit.mark(run_dir, {"kind": "content_extract_stream"})
    pages = spark.read.parquet(sink)
    return pages.groupBy("host").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum("content_blocks").cast("long").alias("content_blocks"),
        F.sum(F.col("blocks") - F.col("content_blocks"))
        .cast("long")
        .alias("boiler_blocks"),
        F.sum("content_chars").cast("long").alias("content_chars"),
    )


# ---------------------------------------------------------------------------
# (i) composed: authority-weighted crawl budgeting
# ---------------------------------------------------------------------------


def _authority_budget_sql(iters: int, slots: int) -> str:
    return (
        "WITH " + _host_pagerank_ctes(iters) + f""",
    s AS (SELECT id AS host, rank AS weight FROM r{iters}),
    tot AS (SELECT sum(weight) AS w FROM s),
    base AS (
      SELECT host, weight,
             ({slots} * weight) // w AS b, ({slots} * weight) % w AS rem
      FROM s, tot
    ),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS r,
             (SELECT {slots} - sum(b) FROM base) AS leftover
      FROM base
    )
    SELECT host, weight,
           CAST(b + CASE WHEN r <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM rk
    """
    )


@query("authority_weighted_budget", _authority_budget_sql(4, 1000))
def authority_weighted_budget(spark, sf_dir):
    """Authority-weighted crawl budgeting — the second budget signal
    beside ``reputation_weighted_budget``, and the original PageRank
    use case closed end to end: "crawl in rank order" means important
    hosts get fetch slots first, so the host-graph rank_micros (an
    integer by construction — no floor/scaling step needed, unlike the
    reputation score) feeds Hamilton apportionment directly as the
    weight. ONE lineage: extract_links → host contraction → 4-round
    integer-fixpoint weighted PageRank → ``apportion_budget`` over
    1000 slots (exact integer div/mod, Σalloc = slots, remainder ties
    on host). The oracle reuses the unrolled fixpoint CTEs and
    replays the largest-remainder arithmetic, so a rank slip OR an
    apportionment slip each break different rows. Scale shape: the
    expensive part (page-grain extraction) is linear; apportionment
    adds two broadcast scalars and the range-bucketed remainder rank
    on a hosts-sized table."""
    from vmware_graph_spark.operators.crawl import apportion_budget

    ranks = host_authority_pagerank(spark, sf_dir)
    weights = ranks.select(
        "host", F.col("rank_micros").cast("bigint").alias("weight")
    )
    return apportion_budget(weights, 1000).select("host", "weight", "alloc")
