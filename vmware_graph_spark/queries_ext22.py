"""Round-10 continuation: crawl MAINTENANCE — the loop that keeps a
100 TB corpus fresh after the first harvest.

Three legs, each oracle-paired on the documents table with the fixture
discipline of the round-9 crawl family (deterministic artifacts
synthesized FROM source rows, pushed through the production distributed
path, oracle recomputing the answer from the SOURCE, never from the
implementation):

- **sitemap seeding** (``sources/sitemap.py``): sitemapindex + gzipped
  urlset shards read through the binaryFile + Arrow ``mapInPandas``
  fleet reader;
- **recrawl scheduling** (``operators/crawl.py::recrawl_priority``):
  change-rate estimation over fetch history → freshness priority;
- **URL-parameter mining** (``operators/crawl.py::
  mine_content_params``): which query parameters empirically carry
  content — the data-driven upgrade of the static tracking-param list.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from vmware_graph_spark import commit
from vmware_graph_spark.crawl_fixture import _expected_text_sql, _warc_fixture_dir
from vmware_graph_spark.queries import query
from vmware_graph_spark.sources.tables import load_table
from vmware_graph_spark.tmpcache import cache_dir, data_key

_N_SHARDS = 4


def _sitemap_fixture_dir(spark, sf_dir: str) -> str:
    """Synthesize the sitemap fleet once per (dataset, mtime): a plain
    ``sitemap_index.xml`` plus _N_SHARDS GZIPPED urlset shards (the
    spec's preferred transport), one ``<url>`` per document with
    lastmod/changefreq/priority derived deterministically from
    doc_id."""
    from datetime import date, timedelta

    from vmware_graph_spark.sources.sitemap import write_sitemap_files

    root = cache_dir("sitemap_fleet", data_key(sf_dir, "documents"))
    if commit.marked(root):
        return root
    ids = [
        int(r.doc_id)
        for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    freq = ("daily", "weekly", "monthly")
    shards: dict[str, list[dict]] = {f"shard_{i}": [] for i in range(_N_SHARDS)}
    for did in sorted(ids):
        shards[f"shard_{did % _N_SHARDS}"].append(
            {
                "loc": f"http://www.site{did % 5}.example.com/a/{did}",
                "lastmod": (date(2026, 1, 1) + timedelta(days=did % 365)).isoformat(),
                "changefreq": freq[did % 3],
                "priority": f"{(did % 10) / 10:.1f}",
            }
        )
    write_sitemap_files(shards, root, gzip_files=True)
    commit.mark(root, {"kind": "sitemap_fleet"})
    return root


@query(
    "sitemap_seed_ingest",
    """
    SELECT doc_id,
           'http://www.site' || (doc_id % 5) || '.example.com/a/' || doc_id
             AS loc,
           strftime(DATE '2026-01-01' + CAST(doc_id % 365 AS INTEGER),
                    '%Y-%m-%d') AS lastmod,
           CASE doc_id % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
                ELSE 'monthly' END AS changefreq,
           CAST(doc_id % 10 AS DOUBLE) / 10 AS priority
    FROM documents
    """,
)
def sitemap_seed_ingest(spark, sf_dir):
    """Frontier seeding from sitemaps, end to end: a sitemapindex plus
    GZIPPED urlset shards are synthesized from the documents table,
    read back through the production fleet reader (binaryFile + Arrow
    ``mapInPandas``, namespace-tolerant stdlib XML parse, transparent
    gunzip), and the oracle recomputes every entry's loc / lastmod
    date arithmetic / changefreq / priority straight from the source
    rows — a parse slip, gz mishandling, entry-field mixup, or a
    leaked ``<sitemapindex>`` child (kind='sitemap' rows are filtered,
    so an unfiltered leak changes the row count) breaks the match.
    Scale shape: parallelism = sitemap-file count; no shuffle at all
    (the output is a per-row projection)."""
    from vmware_graph_spark.sources.sitemap import read_sitemaps

    root = _sitemap_fixture_dir(spark, sf_dir)
    entries = read_sitemaps(spark, os.path.join(root, "*.xml*"))
    return entries.filter(F.col("kind") == "url").select(
        F.regexp_extract("loc", r"/a/(\d+)$", 1).cast("bigint").alias("doc_id"),
        "loc",
        "lastmod",
        "changefreq",
        F.col("priority").cast("double").alias("priority"),
    )


@query(
    "recrawl_priority_urls",
    """
    WITH h AS (
      SELECT doc_id,
             'http://www.site' || (doc_id % 5) || '.example.com/a/' || doc_id
               AS url,
             CAST(CASE WHEN (doc_id + 1) % 4 = 0 THEN 1 ELSE 0 END
                + CASE WHEN (doc_id + 4) % 4 = 0 THEN 1 ELSE 0 END
                + CASE WHEN (doc_id + 9) % 4 = 0 THEN 1 ELSE 0 END
               AS BIGINT) AS n_changes
      FROM documents
    )
    SELECT url,
           CAST(4 AS BIGINT) AS n_fetches,
           n_changes,
           round(n_changes / 3.0, 6) AS change_rate,
           CAST(datediff('day',
                 DATE '2026-06-22' ,
                 DATE '2026-08-16') AS BIGINT) AS age_days,
           round((n_changes / 3.0)
                 * datediff('day', DATE '2026-06-22', DATE '2026-08-16'),
                 6) AS priority
    FROM h
    """,
)
def recrawl_priority_urls(spark, sf_dir):
    """Freshness-driven recrawl scheduling over a deterministic fetch
    history: each URL has 4 fetches a week apart, whose content
    fingerprint advances exactly when ``(doc_id + v²) % 4 = 0`` at
    revisit v — so URLs genuinely differ in change rate (0, 1/3 or
    2/3). The ENGINE path detects changes from the fingerprints alone
    (lag window inside ``recrawl_priority``); the oracle recomputes
    n_changes/rate/age/priority from pure arithmetic — a fingerprint-
    construction bug, a lag/ordering slip, or a rate formula drift
    each breaks the hash. ``now`` is pinned (2026-08-16), last fetch
    is 2026-06-22 for every URL (age 55 days)."""
    from vmware_graph_spark.operators.crawl import recrawl_priority

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 5).cast("string")
    url = F.concat(
        F.lit("http://www.site"), k, F.lit(".example.com/a/"),
        F.col("doc_id").cast("string"),
    )
    v = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("v")
    h = d.select("doc_id", url.alias("url"), v)
    # cumulative change count up to visit v -> the fingerprint version
    chg = lambda vv: F.when(  # noqa: E731
        (vv > 0) & ((F.col("doc_id") + vv * vv) % 4 == 0), 1
    ).otherwise(0)
    version = sum(
        [F.when(F.col("v") >= i, chg(F.lit(i))).otherwise(0) for i in (1, 2, 3)],
        F.lit(0),
    )
    history = h.select(
        "url",
        (
            F.to_timestamp(F.lit("2026-06-01 00:00:00"))
            + F.make_dt_interval(F.col("v") * 7)
        ).alias("fetch_ts"),
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit("|"),
                     version.cast("string"))
        ).alias("fp"),
    )
    out = recrawl_priority(history, F.lit("2026-08-16"))
    return out.select(
        "url", "n_fetches", "n_changes", "change_rate", "age_days", "priority"
    )


@query(
    "recrawl_priority_sitemap_prior",
    """
    WITH sm AS (
      SELECT doc_id,
             'http://www.site' || (doc_id % 5) || '.example.com/a/' || doc_id
               AS url,
             DATE '2026-01-01' + CAST(doc_id % 365 AS INTEGER) AS lastmod,
             (doc_id % 3) AS k
      FROM documents
    )
    SELECT url,
           CAST(2 AS BIGINT) AS n_fetches,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_changes,
           round(CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END, 6)
             AS change_rate,
           CAST(55 AS BIGINT) AS age_days,
           round(CASE WHEN doc_id % 2 = 0 THEN 55.0 ELSE 0.0 END, 6)
             AS priority,
           'history' AS source
    FROM sm WHERE k = 0
    UNION ALL
    SELECT url,
           CAST(0 AS BIGINT) AS n_fetches,
           CAST(0 AS BIGINT) AS n_changes,
           round(CASE k WHEN 1 THEN 0.25 ELSE 0.1 END, 6) AS change_rate,
           CAST(greatest(0, datediff('day', lastmod, DATE '2026-08-16'))
                AS BIGINT) AS age_days,
           round(CASE k WHEN 1 THEN 0.25 ELSE 0.1 END
                 * greatest(0, datediff('day', lastmod, DATE '2026-08-16')),
                 6) AS priority,
           'sitemap' AS source
    FROM sm WHERE k <> 0
    """,
)
def recrawl_priority_sitemap_prior(spark, sf_dir):
    """Recrawl scheduling with the SITEMAP PRIOR for cold-start URLs
    (round-10 VERDICT #8): the sitemap fleet's lastmod/changefreq feed
    ``recrawl_priority_with_sitemap`` as the ranking signal for URLs
    that have never been fetched. Fixture: every 3rd document's URL
    carries a real 2-fetch history (fingerprint changes exactly when
    doc_id is even → observed rate 1.0 or 0.0, last fetch 2026-06-22 →
    age 55); the other two thirds appear ONLY in the sitemap fixture
    (changefreq weekly → prior 0.25, monthly → 0.1; staleness = days
    from their lastmod to the pinned now, clamped at 0 for
    future-dated lastmods — doc_id%365 runs past 2026-08-16). The
    sitemap leg goes through the PRODUCTION gz fleet reader
    (``read_sitemaps`` over the shared fixture), so a lastmod parse
    slip or changefreq mixup breaks rows the history leg can't mask.
    The oracle derives both legs from doc_id arithmetic alone."""
    from vmware_graph_spark.operators.crawl import recrawl_priority_with_sitemap
    from vmware_graph_spark.sources.sitemap import read_sitemaps

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 5).cast("string")
    url = F.concat(
        F.lit("http://www.site"), k, F.lit(".example.com/a/"),
        F.col("doc_id").cast("string"),
    )
    h = d.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        url.alias("url"),
        F.explode(F.array(F.lit(0), F.lit(1))).alias("v"),
    )
    version = F.when((F.col("v") == 1) & (F.col("doc_id") % 2 == 0), 1).otherwise(0)
    history = h.select(
        "url",
        (
            F.to_timestamp(F.lit("2026-06-01 00:00:00"))
            + F.make_dt_interval(F.col("v") * 21)
        ).alias("fetch_ts"),
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit("|"),
                     version.cast("string"))
        ).alias("fp"),
    )
    root = _sitemap_fixture_dir(spark, sf_dir)
    sitemap = read_sitemaps(spark, os.path.join(root, "*.xml*")).filter(
        F.col("kind") == "url"
    )
    out = recrawl_priority_with_sitemap(history, sitemap, F.lit("2026-08-16"))
    return out.select(
        "url", "n_fetches", "n_changes", "change_rate", "age_days",
        "priority", "source",
    )


# Public PAN test numbers (the standard Luhn-valid examples every
# payment sandbox publishes) and their checksum-broken twins.
_VALID_CCS = (
    "4111111111111111",       # 16-digit
    "5500 0000 0000 0004",    # spaced
    "3400-0000-0000-009",     # 15-digit, dashed
    "6011000000000004",
    "30000000000004",         # 14-digit
)
_INVALID_CCS = tuple(c[:-1] + str((int(c[-1]) + 1) % 10) for c in _VALID_CCS)


def _cc_case_sql(items: tuple[str, ...]) -> str:
    arms = " ".join(
        f"WHEN {i} THEN '{v}'" for i, v in enumerate(items)
    )
    return f"(CASE doc_id % 5 {arms} END)"


@query(
    "pii_cc_redaction_audit",
    f"""
    SELECT doc_id,
           ('pay [CC] not ' || {_cc_case_sql(_INVALID_CCS)}
             || ' ref 12345 done') AS redacted,
           CAST(1 AS BIGINT) AS n_redacted
    FROM documents
    """,
)
def pii_cc_redaction_audit(spark, sf_dir):
    """Checksum-validated card redaction: each text carries one
    Luhn-VALID public test PAN (16/15/14-digit, spaced and dashed
    spellings) and its checksum-broken twin plus a short digit run —
    only the valid span may redact, the broken twin and the order id
    must survive byte-for-byte. The oracle writes the expected
    redacted text as literals (the invalid twin spelled out), so a
    Luhn slip (doubling parity, the minus-9 fold), a separator
    mishandling, or an over-eager shape-only redaction each breaks the
    hash. One codegen'd projection, no shuffle."""
    from vmware_graph_spark.functions.text import redact_cc_numbers

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    valid = F.element_at(
        F.array(*[F.lit(c) for c in _VALID_CCS]), (F.col("doc_id") % 5 + 1).cast("int")
    )
    bad = F.element_at(
        F.array(*[F.lit(c) for c in _INVALID_CCS]), (F.col("doc_id") % 5 + 1).cast("int")
    )
    text = F.concat(
        F.lit("pay "), valid, F.lit(" not "), bad, F.lit(" ref 12345 done")
    )
    red = redact_cc_numbers(text)
    return d.select(
        "doc_id",
        red.alias("redacted"),
        (
            F.size(F.split(red, r"\[CC\]", -1)) - 1
        ).cast("bigint").alias("n_redacted"),
    )


@query(
    "script_mix_documents",
    """
    SELECT doc_id,
           CAST(5 * (doc_id % 3 + 1) AS BIGINT) AS n_latin,
           CAST(6 * (doc_id % 2) AS BIGINT) AS n_cyrillic,
           CAST(2 * (doc_id % 5) AS BIGINT) AS n_cjk,
           CAST(CASE WHEN (CASE WHEN doc_id % 2 > 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN doc_id % 5 > 0 THEN 1 ELSE 0 END) >= 1
                THEN 1 ELSE 0 END AS INTEGER) AS multiscript
    FROM documents
    """,
)
def script_mix_documents(spark, sf_dir):
    """Unicode script profiling — the multilingual-curation signal
    (mixed-script text is the classic spam/mojibake tell, and
    per-script ratios drive language routing): text is synthesized
    with EXACTLY counted script content (doc_id%3+1 Latin 'hello'
    words, doc_id%2 Cyrillic 'привет' words, doc_id%5 CJK '你好'
    pairs), counted via portable \\x{....}-range regexp_count, and the
    oracle writes the expected per-script counts from the arithmetic
    alone — a range slip (kana vs ideographs, Latin-1 letters), a
    count-vs-match bug, or a multiscript-flag error each breaks rows.
    One codegen'd projection, no shuffle."""
    from vmware_graph_spark.functions.text import script_count

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    text = F.concat(
        F.repeat(F.lit("hello "), (F.col("doc_id") % 3 + 1).cast("int")),
        F.repeat(F.lit("привет "), (F.col("doc_id") % 2).cast("int")),
        F.repeat(F.lit("你好 "), (F.col("doc_id") % 5).cast("int")),
    )
    n_cyr = script_count(text, "cyrillic")
    n_cjk = script_count(text, "cjk")
    return d.select(
        "doc_id",
        script_count(text, "latin").cast("bigint").alias("n_latin"),
        n_cyr.cast("bigint").alias("n_cyrillic"),
        n_cjk.cast("bigint").alias("n_cjk"),
        (
            (n_cyr > 0).cast("int") + (n_cjk > 0).cast("int") >= 1
        ).cast("int").alias("multiscript"),
    )


def _expected_wet_oracle() -> str:
    return f"""
    WITH exp AS (
      SELECT doc_id, {_expected_text_sql()} AS t
      FROM documents WHERE doc_id % 53 <> 0
    )
    SELECT doc_id, md5(t) AS text_md5, CAST(length(t) AS BIGINT) AS n_chars
    FROM exp
    """


@query("wet_conversion_roundtrip", _expected_wet_oracle())
def wet_conversion_roundtrip(spark, sf_dir):
    """The crawl-prep WRITE side, end to end — what Common Crawl ships
    as WET: the WARC response fleet decodes, extracts text
    (pure-Catalyst chain), and the extracted corpus lands as WARC
    ``conversion`` records written FROM THE EXECUTORS (``write_wet``:
    one gzip-membered .warc.wet.gz per partition, driver never touches
    record bytes), then reads BACK through the same fleet reader. The
    oracle is the ground-truth extraction built from source columns —
    so the whole loop (response framing → extraction → WET
    serialization → gz members → conversion-record parse) must
    preserve every byte of every document's text to hash-match."""
    from vmware_graph_spark.sources.warc import read_warc, write_wet

    root = _warc_fixture_dir(spark, sf_dir)
    out_dir = os.path.join(cache_dir("wet_sink", data_key(sf_dir, "documents")), "wet")
    if not commit.marked(out_dir):
        from vmware_graph_spark.functions.text import html_to_text

        recs = read_warc(spark, os.path.join(root, "*.warc"))
        page = recs.filter(F.col("http_status") == 200).select(
            "uri", html_to_text(F.col("body").cast("string")).alias("text")
        )
        write_wet(page, out_dir, gzip_members=True)
        commit.mark(out_dir, {"kind": "wet_sink"})
    wet = read_warc(spark, os.path.join(out_dir, "*.warc.wet.gz"),
                    types=("conversion",))
    t = F.col("body").cast("string")
    return wet.select(
        F.regexp_extract("uri", r"/docs/(\d+)", 1).cast("bigint").alias("doc_id"),
        F.md5(t).alias("text_md5"),
        F.length(t).cast("bigint").alias("n_chars"),
    )


@query(
    "crawl_budget_allocation",
    """
    WITH w AS (
      SELECT 'h' || (doc_id % 23) AS host, count(*) AS weight
      FROM documents GROUP BY 1
    ),
    t AS (SELECT sum(weight) AS W FROM w),
    b AS (
      SELECT host, weight,
             (1000 * weight) // W AS base,
             (1000 * weight) % W AS rem
      FROM w, t
    ),
    r AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rk FROM b
    ),
    l AS (SELECT 1000 - sum(base) AS R FROM b)
    SELECT host, CAST(weight AS BIGINT) AS weight,
           CAST(base + CASE WHEN rk <= R THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM r, l
    """,
)
def crawl_budget_allocation(spark, sf_dir):
    """Integer fetch-budget apportionment (Hamilton largest-remainder)
    across 23 hosts weighted by URL count: floor quotas from EXACT
    integral division (no float quota on either engine), leftover
    slots to the largest remainders with key tiebreak — Σalloc is
    exactly the 1000-slot budget. The engine ranks remainders through
    ``exact_global_rank`` (range-bucketed — at crawl scale 'hosts' is
    millions of rows, and a plain ORDER BY window would funnel them
    through one task); the oracle runs the same apportionment as a
    window twin."""
    from vmware_graph_spark.operators.crawl import apportion_budget

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    w = (
        d.select(F.concat(F.lit("h"), (F.col("doc_id") % 23).cast("string")).alias("host"))
        .groupBy("host")
        .agg(F.count("*").cast("bigint").alias("weight"))
    )
    return apportion_budget(w, 1000)


@query(
    "anchor_text_profile",
    """
    SELECT '/t/' || (doc_id + 1) AS target,
           CAST(2 AS BIGINT) AS n_links,
           'guide ' || ((doc_id + 1) % 7) || '|read more' AS texts
    FROM documents
    """,
)
def anchor_text_profile(spark, sf_dir):
    """Link-context aggregation — the web describes a page by how
    others link to it: every page carries two anchors to the NEXT
    page's target, one plain ('guide {k}') and one with nested markup
    and sloppy whitespace ('<b>read</b>  more'), and the profile
    groups anchor TEXTS per target. The oracle writes each target's
    expected (count, sorted-joined texts) from doc_id arithmetic, so
    href↔text pair alignment, inner-markup stripping, whitespace
    collapse, and the aggregation each break the hash independently.
    Pure Catalyst extraction (regexp_extract_all + transform); one
    shuffle on the target key."""
    from vmware_graph_spark.functions.url import extract_links

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    i_next = (F.col("doc_id") + 1).cast("string")
    k_next = ((F.col("doc_id") + 1) % 7).cast("string")
    body = F.concat(
        F.lit('<html><body><a href="/t/'), i_next, F.lit('">guide '), k_next,
        F.lit('</a> <a href="/t/'), i_next,
        F.lit('"><b>read</b>  more</a></body></html>'),
    )
    links = d.select(F.explode(extract_links(body)).alias("l")).select(
        F.col("l.href").alias("target"), F.col("l.text").alias("text")
    )
    return links.groupBy("target").agg(
        F.count("*").cast("bigint").alias("n_links"),
        F.array_join(F.array_sort(F.collect_set("text")), "|").alias("texts"),
    )


@query(
    "redirect_chain_resolution",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 97 = 0 THEN NULL
                ELSE '/t/' || doc_id END AS final_url,
           CASE WHEN doc_id % 97 = 0 THEN NULL
                ELSE CAST(doc_id % 4 + 1 AS BIGINT) END AS hops,
           CASE WHEN doc_id % 97 = 0 THEN 'unresolved' ELSE 'ok' END AS status
    FROM documents
    """,
)
def redirect_chain_resolution(spark, sf_dir):
    """HTTP redirect chains resolved to corpus identity: every doc's
    page sits behind a chain of doc_id%4 + 1 redirects ending at
    /t/{id}, except each 97th doc whose chain is a 2-CYCLE (the loop a
    crawler must refuse to follow). The engine runs pointer-doubling
    ``resolve_redirects`` over the raw edge rows — ⌈log2(max_hops)⌉
    self-joins, one state row per source — while the oracle writes
    final/hops/status from pure arithmetic, so a doubling slip (wrong
    hop count), a premature stop (chain length 4 needs 3 rounds), or a
    missed cycle each breaks different rows."""
    from vmware_graph_spark.operators.crawl import resolve_redirects

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id").cast("string")

    chain = d.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("doc_id") % 4)).alias("k"),
    )
    L = F.col("doc_id") % 4
    chain_edges = chain.select(
        F.concat(F.lit("/c/"), i, F.lit("/"), F.col("k").cast("string")).alias("src"),
        F.when(
            F.col("k") < L,
            F.concat(F.lit("/c/"), i, F.lit("/"), (F.col("k") + 1).cast("string")),
        ).otherwise(F.concat(F.lit("/t/"), i)).alias("dst"),
    )
    cyc = d.filter(F.col("doc_id") % 97 == 0).select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("k")
    )
    cyc_edges = cyc.select(
        F.concat(F.lit("/c/"), i, F.lit("/"), F.col("k").cast("string")).alias("src"),
        F.concat(F.lit("/c/"), i, F.lit("/"), (1 - F.col("k")).cast("string")).alias("dst"),
    )
    resolved = resolve_redirects(chain_edges.unionByName(cyc_edges))
    return resolved.select(
        F.regexp_extract("src", r"^/c/(\d+)/0$", 1).alias("__id"),
        "final_url", "hops", "status",
    ).filter(F.col("__id") != "").select(
        F.col("__id").cast("bigint").alias("doc_id"),
        "final_url", "hops", "status",
    )


@query(
    "url_param_mining",
    """
    WITH pairs AS (
      SELECT DISTINCT doc_id % 50 AS x, doc_id % 7 AS y FROM documents
    ),
    idg AS (SELECT y, count(*) AS n FROM pairs GROUP BY y),
    sessg AS (SELECT x, count(*) AS n FROM pairs GROUP BY x)
    SELECT 'id' AS param_key,
           CAST((SELECT count(*) FROM idg WHERE n >= 2) AS BIGINT)
             AS n_multi_groups,
           CAST((SELECT count(*) FROM idg WHERE n >= 2) AS BIGINT)
             AS n_divergent_groups,
           CAST(CASE WHEN (SELECT count(*) FROM idg WHERE n >= 2) > 0
                     THEN 1 ELSE 0 END AS INTEGER) AS content_bearing
    UNION ALL
    SELECT 'sess',
           CAST((SELECT count(*) FROM sessg WHERE n >= 2) AS BIGINT),
           CAST(0 AS BIGINT),
           CAST(0 AS INTEGER)
    """,
)
def url_param_mining(spark, sf_dir):
    """Data-driven URL-parameter classification: fetched pages carry
    ``?id=X&sess=Y`` where the content fingerprint depends ONLY on X —
    so 'id' must be convicted as content-bearing (URLs differing only
    in id diverge in content) and 'sess' acquitted (URLs differing
    only in sess always agree). The oracle derives group/divergence
    counts from the residue arithmetic alone (distinct (x, y) pairs,
    grouped each way) — it never touches URL strings, so the
    operator's param parsing, group-key reconstruction, and divergence
    logic are each pinned independently. This is the empirical upgrade
    path for functions/url.py's static tracking list: run the miner
    over a fetch log, drop what it acquits."""
    from vmware_graph_spark.operators.crawl import mine_content_params

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    x = (F.col("doc_id") % 50).cast("string")
    y = (F.col("doc_id") % 7).cast("string")
    pages = d.select(
        F.concat(
            F.lit("http://www.shop.example.com/p?id="), x, F.lit("&sess="), y
        ).alias("url"),
        F.md5(F.concat(F.lit("content-"), x)).alias("fp"),
    ).distinct()
    return mine_content_params(pages)
