"""Round-9 continuation: the web-crawl prep family.

A 100 TB training corpus starts as WARC archives, not parquet. This
module makes that leg first-class: a WARC fleet read (binaryFile +
Arrow ``mapInPandas`` over the unsplittable archive grain —
``sources/warc.py``), HTML→text extraction as a pure-Catalyst
``regexp_replace`` chain (``functions/text.py::html_to_text``), and
URL canonicalization/dedup (``functions/url.py``) — composed end to
end in ``crawl_prep_pipeline``.

Fixture discipline (the multimodal pattern): deterministic WARC/HTML
pages are synthesized FROM the documents table, pushed through the
production decode path, and each oracle recomputes the answer straight
from the SOURCE rows — so a framing bug, tag-strip leak, entity
mis-decode, or canonicalization error anywhere breaks the hash match.
The synthesized page text rides the fixture's ``text`` verbatim (plain
words — the template owns all markup, so ground-truth extraction is
exactly expressible in SQL). The WARC fixture builder is driver-side
by design (oracle-scale only; at corpus scale archives already exist —
the engine path under test is the READ side).
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from vmware_graph_spark import commit
from vmware_graph_spark.functions.text import (
    html_to_text,
    html_to_text_sql,
    lang_id,
    lang_id_sql,
    n_tokens,
)
from vmware_graph_spark.functions.url import (
    url_canonical,
    url_host,
)
from vmware_graph_spark.queries import _toks, query
from vmware_graph_spark.sources.tables import load_table
from vmware_graph_spark.tmpcache import cache_dir, data_key

# The page template, its SQL/Catalyst builders, the ground-truth
# extraction oracle, and the WARC fleet synthesizer live in
# vmware_graph_spark.crawl_fixture (shared with queries_ext22 WITHOUT a
# cross-ext import — queries.py imports every ext module at its tail,
# so ext-to-ext imports are latent circular imports; round-10 review
# finding). Re-exported here because tools/crawl_scalebench.py and the
# tests import them under this module's name.
from vmware_graph_spark.crawl_fixture import (  # noqa: E402,F401
    _EXPECTED_PREFIX,
    _N_SHARDS,
    _expected_text_sql,
    _html_col,
    _html_page,
    _html_sql,
    _status_case_sql,
    _warc_fixture_dir,
)


@query(
    "warc_fleet_ingest",
    f"""
    SELECT doc_id,
           CAST({_status_case_sql()} AS INTEGER) AS http_status,
           CAST(length({_html_sql()}) AS BIGINT) AS body_chars,
           md5({_html_sql()}) AS body_md5
    FROM documents
    """,
)
def warc_fleet_ingest(spark, sf_dir):
    """REAL WARC ingest, end to end: a fleet of archives is synthesized
    from the documents table (one HTTP response per doc + a warcinfo
    record per shard), read back through the production distributed
    reader (binaryFile + Arrow ``mapInPandas``, Content-Length framing),
    and the oracle recomputes every record's status/char-count/body-md5
    straight from the SOURCE rows — a framing slip, header mis-parse,
    warcinfo leak, or byte corruption anywhere breaks the hash match.
    Scale shape: parallelism = archive count (Common Crawl ships tens
    of thousands of ~1 GB segments), no shuffle until aggregation."""
    from vmware_graph_spark.sources.warc import read_warc

    root = _warc_fixture_dir(spark, sf_dir)
    recs = read_warc(spark, os.path.join(root, "*.warc"))
    return recs.select(
        F.regexp_extract("uri", r"/docs/(\d+)", 1).cast("bigint").alias("doc_id"),
        F.col("http_status").cast("int").alias("http_status"),
        F.length(F.col("body").cast("string")).cast("bigint").alias("body_chars"),
        F.md5("body").alias("body_md5"),
    )


@query(
    "html_extract_text_stats",
    f"""
    WITH exp AS (
      SELECT doc_id, {_expected_text_sql()} AS t FROM documents
    )
    SELECT doc_id, md5(t) AS text_md5,
           CAST(len({_toks('t')}) AS BIGINT) AS n_toks
    FROM exp
    """,
)
def html_extract_text_stats(spark, sf_dir):
    """HTML→text extraction verified against GROUND TRUTH: the page is
    built in Catalyst (concat over documents columns — zero UDF, zero
    Python), pushed through ``html_to_text``, and the oracle constructs
    the CORRECT plain text directly from the source columns (never by
    re-running the regexes) — so a tag-strip leak (the template's
    script contains a literal '<div>' and a bare '<'), a comment-
    containing-tags slip, an entity mis-decode, or a collapse bug all
    break the hash. The whole query is one codegen'd projection."""
    d = load_table(spark, sf_dir, "documents")
    t = html_to_text(_html_col())
    return d.select(
        "doc_id",
        F.md5(t).alias("text_md5"),
        n_tokens(t).cast("bigint").alias("n_toks"),
    )


@query(
    "url_canonical_dedup",
    """
    WITH v AS (
      SELECT 'http://www.site' || (doc_id % 5) || '.example.com/a/' || doc_id
               || '?a=1&b=2' AS canonical_url,
             3 AS n
      FROM documents
      UNION ALL
      SELECT 'https://www.site' || (doc_id % 5) || '.example.com/a/' || doc_id
               || '?a=1&b=2' AS canonical_url,
             1 AS n
      FROM documents
    )
    SELECT canonical_url, CAST(n AS BIGINT) AS n_raw_urls FROM v
    """,
)
def url_canonical_dedup(spark, sf_dir):
    """URL frontier dedup: four deterministic raw spellings per page
    (scheme/host case, default ports, tracking params, fragments,
    shuffled query order) canonicalize and group — three http variants
    must collapse to ONE canonical URL and the https variant must stay
    distinct (scheme changes identity). The oracle writes the expected
    canonical strings directly, so every rule in the canonicalizer is
    pinned to intent. Pure Catalyst: explode + regexp/array ops, one
    aggregation shuffle on the canonical key."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 5).cast("string")
    i = F.col("doc_id").cast("string")
    v1 = F.concat(
        F.lit("HTTP://WWW.Site"), k, F.lit(".Example.COM:80/a/"), i,
        F.lit("?utm_source=feed&b=2&a=1#frag"),
    )
    v2 = F.concat(
        F.lit("http://www.site"), k, F.lit(".example.com/a/"), i,
        F.lit("?a=1&b=2&utm_campaign=x"),
    )
    v3 = F.concat(
        F.lit("http://www.site"), k, F.lit(".example.com/a/"), i, F.lit("?b=2&a=1")
    )
    v4 = F.concat(
        F.lit("https://www.site"), k, F.lit(".example.com:443/a/"), i,
        F.lit("?a=1&b=2"),
    )
    urls = d.select(F.explode(F.array(v1, v2, v3, v4)).alias("url"))
    return (
        urls.select(url_canonical("url").alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count("*").cast("bigint").alias("n_raw_urls"))
    )


@query(
    "domain_quality_rollup",
    """
    SELECT 'www.site' || (doc_id % 5) || '.example.com' AS host,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
    FROM documents
    GROUP BY 1
    """,
)
def domain_quality_rollup(spark, sf_dir):
    """Per-domain crawl report (the first table a crawl triage shows):
    host extracted from the MESSY raw URL spelling (upper-case
    authority, default port, userinfo-free) rolled up against document
    quality columns. Exact integer aggregates; the one division is
    IEEE-on-exact-ints, rounded identically on both sides."""
    d = load_table(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 5).cast("string")
    i = F.col("doc_id").cast("string")
    raw = F.concat(
        F.lit("HTTP://WWW.Site"), k, F.lit(".Example.COM:80/docs/"), i,
        F.lit("?utm_source=feed"),
    )
    return (
        d.select(url_host(raw).alias("host"), "lang", "n_chars")
        .groupBy("host")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.round(
                F.sum("n_chars").cast("double") / F.count("*"), 6
            ).alias("avg_chars"),
        )
    )


# ONE definition serves both the batch query and its streaming twin —
# the twin's whole contract is "equals the batch rollup row-for-row",
# so the shared oracle must exist exactly once (round-9 review
# finding: it was two hand-maintained verbatim copies).
_CRAWL_ROLLUP_SQL = f"""
    WITH page AS (
      SELECT doc_id,
             'www.site' || (doc_id % 5) || '.example.com' AS host,
             {html_to_text_sql(_html_sql())} AS t
      FROM documents
      WHERE doc_id % 53 <> 0
    ),
    scored AS (
      SELECT host, t, len({_toks('t')}) AS n_toks, {lang_id_sql('t')} AS lang_pred
      FROM page
    )
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_pages,
           CAST(sum(n_toks) AS BIGINT) AS total_toks,
           CAST(count(DISTINCT lang_pred) AS BIGINT) AS n_langs
    FROM scored
    WHERE n_toks >= 5
    GROUP BY host
"""


@query("crawl_prep_pipeline", _CRAWL_ROLLUP_SQL)
def crawl_prep_pipeline(spark, sf_dir):
    """The crawl-prep leg end to end, the way a 100 TB run composes it:
    WARC fleet read (production distributed parser) → HTTP status gate
    → HTML→text extraction (pure Catalyst) → host from the canonical
    URL machinery → token/language scoring → per-domain corpus stats.
    The oracle rebuilds the same pages in SQL and runs the extraction
    TWIN (``html_to_text_sql``) — unlike ``html_extract_text_stats``
    this row pins cross-engine regex parity of the full chain, so the
    two queries together pin both intent and parity. One narrow
    aggregation shuffle; everything upstream is a per-file scan."""
    from vmware_graph_spark.sources.warc import read_warc

    root = _warc_fixture_dir(spark, sf_dir)
    recs = read_warc(spark, os.path.join(root, "*.warc"))
    t = html_to_text(F.col("body").cast("string"))
    page = recs.filter(F.col("http_status") == 200).select(
        url_host("uri").alias("host"),
        t.alias("t"),
    )
    scored = page.select(
        "host",
        n_tokens("t").cast("bigint").alias("n_toks"),
        lang_id("t").alias("lang_pred"),
    )
    return (
        scored.filter(F.col("n_toks") >= 5)
        .groupBy("host")
        .agg(
            F.count("*").cast("bigint").alias("n_pages"),
            F.sum("n_toks").cast("bigint").alias("total_toks"),
            F.countDistinct("lang_pred").cast("bigint").alias("n_langs"),
        )
    )




@query("streaming_crawl_ingest", _CRAWL_ROLLUP_SQL)
def streaming_crawl_ingest(spark, sf_dir):
    """REAL streaming run of the crawl-prep leg: the WARC fleet arrives
    as a ``binaryFile`` file-source STREAM (maxFilesPerTrigger=2 → four
    micro-batches over the eight archives), each batch flowing through
    the SAME executor-side parser as the batch reader
    (``read_warc_stream`` shares ``_parse_files_fn`` verbatim) and the
    same pure-Catalyst extraction chain, with per-page rows appended to
    a parquet sink exactly-once via the checkpoint. Per-page rows are
    independent of batch boundaries, so the drained sink's rollup must
    equal the batch twin ``crawl_prep_pipeline`` row-for-row — the
    oracle is that twin's SQL, unchanged. This is the continuous-crawl
    shape at 100 TB: segments land, records flow, the corpus grows."""
    from vmware_graph_spark.sources.warc import read_warc_stream

    root = _warc_fixture_dir(spark, sf_dir)
    run_dir = cache_dir("crawl_stream", data_key(sf_dir, "documents"))
    sink = os.path.join(run_dir, "pages")
    if not commit.marked(run_dir):
        os.makedirs(run_dir, exist_ok=True)
        recs = read_warc_stream(
            spark, os.path.join(root, "*.warc"), max_files_per_trigger=2
        )
        t = html_to_text(F.col("body").cast("string"))
        page = recs.filter(F.col("http_status") == 200).select(
            url_host("uri").alias("host"),
            n_tokens(t).cast("bigint").alias("n_toks"),
            lang_id(t).alias("lang_pred"),
        )
        q = (
            page.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            # A marker over a half-drained sink would cache a wrong
            # answer forever (round-9 review finding) — fail loudly.
            q.stop()
            raise TimeoutError("streaming crawl ingest did not drain in 600s")
        commit.mark(run_dir, {"kind": "crawl_stream"})
    pages = spark.read.parquet(sink)
    return (
        pages.filter(F.col("n_toks") >= 5)
        .groupBy("host")
        .agg(
            F.count("*").cast("bigint").alias("n_pages"),
            F.sum("n_toks").cast("bigint").alias("total_toks"),
            F.countDistinct("lang_pred").cast("bigint").alias("n_langs"),
        )
    )


@query(
    "robots_frontier_filter",
    """
    SELECT doc_id,
           'www.site' || (doc_id % 5) || '.example.com' AS host,
           CAST(CASE
             WHEN doc_id % 5 = 4 THEN 1
             WHEN doc_id % 5 = 2 THEN
               CASE WHEN CAST(doc_id AS VARCHAR) LIKE '1%'
                     AND CAST(doc_id AS VARCHAR) NOT LIKE '12%'
                    THEN 1 ELSE 0 END
             WHEN doc_id % 5 = 3 THEN
               CASE WHEN CAST(doc_id AS VARCHAR) LIKE '1%'
                     AND CAST(doc_id AS VARCHAR) NOT LIKE '%8'
                    THEN 1 ELSE 0 END
             WHEN doc_id % 5 = 1 THEN
               CASE WHEN CAST(doc_id AS VARCHAR) LIKE '1%'
                     AND CAST(doc_id AS VARCHAR) NOT LIKE '1%6'
                    THEN 1 ELSE 0 END
             ELSE CASE WHEN CAST(doc_id AS VARCHAR) LIKE '1%' THEN 1 ELSE 0 END
           END AS INTEGER) AS fetch_allowed
    FROM documents
    """,
)
def robots_frontier_filter(spark, sf_dir):
    """Crawl-frontier robots.txt gate (RFC 9309 most-octets match,
    ``*``/trailing-``$`` wildcards): each host's rules pack into ONE
    broadcast array row, patterns compile to anchored regexes inside
    Catalyst, and every frontier URL resolves per-row — the frontier
    itself never shuffles. The fixture rules exercise every semantic:
    a Disallow with an Allow carve-out inside it (hosts 0-3 block /a/
    but allow /a/1*), a deeper Disallow re-blocking inside the
    carve-out (host 2 blocks /a/12*), WILDCARD disallows that out-score
    the carve-out (host 3 blocks ``/a/*8$`` — any id ending in 8; host
    1 blocks ``/a/1*6$`` — ids starting 1 ending 6; the ending digits
    are chosen REACHABLE in each host's residue class — host k's ids
    end in k or k+5, so an unreachable digit would make the rule dead
    and the oracle vacuous, round-10 review finding), and a rule-free
    host (site4 — default allow). The oracle writes the expected
    verdict as ground-truth CASE arms (LIKE twins of the wildcards), so
    the operator's precedence order AND its pattern compilation are
    pinned to intent, not to its own implementation."""
    from vmware_graph_spark.operators.crawl import robots_filter

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 5).cast("string")
    urls = d.select(
        "doc_id",
        F.concat(F.lit("www.site"), k, F.lit(".example.com")).alias("host"),
        F.concat(F.lit("/a/"), F.col("doc_id").cast("string")).alias("path"),
    )
    hosts = [f"www.site{i}.example.com" for i in range(5)]
    rule_rows = [(h, "/a/", False) for h in hosts[:4]]
    rule_rows += [(h, "/a/1", True) for h in hosts]
    rule_rows += [(hosts[2], "/a/12", False)]
    rule_rows += [(hosts[3], "/a/*8$", False)]   # wildcard + end anchor
    rule_rows += [(hosts[1], "/a/1*6$", False)]  # wildcard inside a prefix
    rules = spark.createDataFrame(
        rule_rows, "host string, path_prefix string, allow boolean"
    )
    out = robots_filter(urls, rules)
    return out.select(
        "doc_id", "host", F.col("fetch_allowed").cast("int").alias("fetch_allowed")
    )


@query(
    "robots_txt_group_gate",
    """
    SELECT doc_id,
           'www.site' || (doc_id % 5) || '.example.com' AS host,
           CAST(CASE WHEN doc_id % 5 = 3 OR doc_id % 10 = doc_id % 5
                     THEN 1 ELSE 0 END AS INTEGER) AS fetch_allowed
    FROM documents
    """,
)
def robots_txt_group_gate(spark, sf_dir):
    """The FULL robots pipeline from raw robots.txt text: per-host
    bodies parse executor-side (``parse_robots`` — Arrow mapInPandas,
    never driver-collected), RFC 9309 §2.2.1 group selection picks the
    rules that bind OUR crawler ('examplebot-news'), and the selected
    rules gate the frontier through the same broadcast zero-shuffle
    filter. Each host exercises a different selection arm: host0 an
    exact-token group (decoys above and below it must lose), host1 a
    separator-bounded prefix token ('examplebot' binds
    'examplebot-news' at the '-' boundary), host2 TWO groups naming a
    binding token (rules must merge), host3 a foreign-token-only file
    (no group binds — allow all), host4 the ``*`` fallback. Every
    selected group
    blocks /a/ except ids ending in the host digit (``Allow:
    /a/*<k>$`` out-scores the Disallow), so the oracle's ground truth
    is pure arithmetic: allowed ⇔ host3 ∨ doc_id%10 = doc_id%5 — a
    wrong group pick, a missed merge, or a mis-scored wildcard each
    flips different rows."""
    from vmware_graph_spark.operators.crawl import parse_robots, robots_filter

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 5).cast("string")
    urls = d.select(
        "doc_id",
        F.concat(F.lit("www.site"), k, F.lit(".example.com")).alias("host"),
        F.concat(F.lit("/a/"), F.col("doc_id").cast("string")).alias("path"),
    )

    def allow_tail(i: int) -> str:
        return f"Disallow: /a/\nAllow: /a/*{i}$\n"

    bodies = [
        # host0: exact token between two decoy groups
        "User-agent: otherbot\nDisallow: /\n\n"
        "User-agent: examplebot-news\n" + allow_tail(0) + "\n"
        "User-agent: *\nDisallow: /\n",
        # host1: separator-bounded prefix token binds examplebot-news;
        # * group is a decoy (a mid-word prefix like 'example' would
        # NOT bind — see parse_robots_txt's boundary rule)
        "User-agent: examplebot\n" + allow_tail(1) + "\n"
        "User-agent: *\nDisallow: /\n",
        # host2: two groups carry a binding token -> rules merge
        "User-agent: examplebot\nDisallow: /a/\n\n"
        "User-agent: otherbot\nUser-agent: examplebot\nAllow: /a/*2$\n",
        # host3: foreign token only, no * group -> nothing binds, allow
        "User-agent: otherbot\nDisallow: /\n",
        # host4: only the * fallback group
        "User-agent: *\n" + allow_tail(4),
    ]
    robots = spark.createDataFrame(
        [(f"www.site{i}.example.com", b) for i, b in enumerate(bodies)],
        "host string, robots_txt string",
    )
    rules = parse_robots(robots, "examplebot-news")
    out = robots_filter(urls, rules)
    return out.select(
        "doc_id", "host", F.col("fetch_allowed").cast("int").alias("fetch_allowed")
    )


def _jsonl_fixture_dir(spark, sf_dir: str) -> str:
    """JSONL corpus fixture: 4 shard files, one JSON object per line,
    with every 41st document's line TRUNCATED mid-string (the classic
    crash-mid-write corruption a permissive reader must survive and a
    governance pass must count)."""
    import json as _json

    root = cache_dir("jsonl_corpus", data_key(sf_dir, "documents"))
    if commit.marked(root):
        return root
    os.makedirs(root, exist_ok=True)
    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .toPandas()
        .sort_values("doc_id")
    )
    shards: dict[int, list[str]] = {i: [] for i in range(4)}
    for did, text, lang in zip(rows["doc_id"], rows["text"], rows["lang"]):
        did = int(did)
        line = _json.dumps(
            {"doc_id": did, "text": text, "lang": lang}, separators=(",", ":")
        )
        if did % 41 == 0:
            line = line[: len(line) // 2]  # truncated mid-record
        shards[did % 4].append(line)
    for i, lines in shards.items():
        with open(os.path.join(root, f"part_{i}.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
    commit.mark(root, {"kind": "jsonl_corpus"})
    return root


@query(
    "jsonl_corpus_ingest",
    f"""
    SELECT CASE WHEN doc_id % 41 = 0 THEN '_corrupt' ELSE lang END AS lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 41 = 0 THEN 0
                         ELSE len({_toks('text')}) END) AS BIGINT)
             AS total_toks
    FROM documents
    GROUP BY 1
    """,
)
def jsonl_corpus_ingest(spark, sf_dir):
    """The JSONL landing leg (how LLM corpora actually arrive): a
    sharded JSONL fixture with deterministic mid-record truncations is
    read back through Spark's native json source in PERMISSIVE mode
    with a corrupt-record column — good lines parse to typed columns,
    torn lines land in the audit bucket instead of killing the job or
    silently vanishing. Output: per-language doc/token counts with the
    corrupt lines as their own '_corrupt' row, so the governance number
    rides the same rollup. The oracle reconstructs both populations
    from the source rows (a truncated line must parse as corrupt — if
    the reader ever 'recovers' one, the counts break)."""
    from vmware_graph_spark.functions.text import n_tokens

    root = _jsonl_fixture_dir(spark, sf_dir)
    schema = "doc_id bigint, text string, lang string, _corrupt string"
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(os.path.join(root, "*.jsonl"))
    )
    tagged = raw.select(
        F.when(F.col("_corrupt").isNotNull(), F.lit("_corrupt"))
        .otherwise(F.col("lang"))
        .alias("lang"),
        F.when(F.col("_corrupt").isNotNull(), F.lit(0))
        .otherwise(n_tokens("text"))
        .cast("bigint")
        .alias("n_toks"),
    )
    return tagged.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("total_toks"),
    )


@query(
    "crawl_politeness_waves",
    """
    WITH u AS (
      SELECT 'www.site' || (doc_id % 5) || '.example.com' AS host,
             md5('http://www.site' || (doc_id % 5) || '.example.com/a/'
                 || doc_id) AS ord
      FROM documents
    ),
    r AS (
      SELECT host, row_number() OVER (PARTITION BY host ORDER BY ord) AS rn
      FROM u
    )
    SELECT host, CAST((rn - 1) // 8 + 1 AS BIGINT) AS wave,
           CAST(count(*) AS BIGINT) AS n_urls
    FROM r GROUP BY host, wave
    """,
)
def crawl_politeness_waves(spark, sf_dir):
    """Frontier scheduling under per-host politeness: each host fetches
    at most 8 URLs per wave, so the frontier partitions into
    (host, wave) batches — the dispatch plan a polite crawler executes.
    The per-host window is the POINT (politeness serializes a host
    anyway, so a host's frontier is one partition's work by
    definition); deterministic md5 order stands in for priority. A
    pathological single-host frontier routes through
    ``operators.rank.exact_global_rank`` instead — EXECUTED (not
    prose) as the oracle-paired twin
    ``crawl_politeness_waves_giant_host`` below."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 5).cast("string")
    url = F.concat(
        F.lit("http://www.site"), k, F.lit(".example.com/a/"),
        F.col("doc_id").cast("string"),
    )
    u = d.select(
        F.concat(F.lit("www.site"), k, F.lit(".example.com")).alias("host"),
        F.md5(url).alias("ord"),
    )
    w = Window.partitionBy("host").orderBy("ord")
    r = u.select("host", F.row_number().over(w).alias("rn"))
    return (
        r.select(
            "host", (((F.col("rn") - 1) / 8).cast("bigint") + 1).alias("wave")
        )
        .groupBy("host", "wave")
        .agg(F.count("*").cast("bigint").alias("n_urls"))
    )


@query(
    "crawl_politeness_waves_giant_host",
    """
    WITH u AS (
      SELECT CASE WHEN doc_id % 101 = 0
                  THEN 'www.side' || (doc_id % 2) || '.example.com'
                  ELSE 'www.giant.example.com' END AS host,
             doc_id,
             CAST('0x' || substr(md5('http://x/' || doc_id), 1, 15) AS BIGINT)
               AS ord
      FROM documents
    ),
    r AS (
      SELECT host,
             row_number() OVER (PARTITION BY host ORDER BY ord, doc_id) AS rn
      FROM u
    )
    SELECT host, CAST((rn - 1) // 8 + 1 AS BIGINT) AS wave,
           CAST(count(*) AS BIGINT) AS n_urls
    FROM r GROUP BY host, wave
    """,
)
def crawl_politeness_waves_giant_host(spark, sf_dir):
    """The pathological frontier ``crawl_politeness_waves`` documents:
    ONE host owns ~99% of the URLs (every doc except each 101st), so a
    plain per-host window would funnel the whole frontier through a
    single task. This twin EXECUTES the promised escape: the per-host
    rank routes through ``exact_global_rank(partition_cols=['host'])``
    — range-bucketed windows partitioned by (host, bucket), per-group
    offsets prefix-summed over ≤ |hosts|×buckets rows — so the giant
    host's ranks compute across ~buckets parallel tasks while staying
    bit-identical to ``row_number() OVER (PARTITION BY host ORDER BY
    ord, doc_id)``, which is exactly what the oracle runs. Priority is
    the engine-portable 60-bit md5 key (numeric, as the range
    cutpoints require) with doc_id as total-order tiebreak."""
    from vmware_graph_spark.operators.rank import exact_global_rank

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    host = F.when(
        F.col("doc_id") % 101 == 0,
        F.concat(
            F.lit("www.side"), (F.col("doc_id") % 2).cast("string"),
            F.lit(".example.com"),
        ),
    ).otherwise(F.lit("www.giant.example.com"))
    u = d.select(
        host.alias("host"),
        "doc_id",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("http://x/"), F.col("doc_id").cast("string"))),
                1, 15,
            ),
            16, 10,
        ).cast("bigint").alias("ord"),
    )
    r = exact_global_rank(u, ["ord", "doc_id"], rank_col="rn", partition_cols=["host"])
    return (
        r.select(
            "host", (((F.col("rn") - 1) / 8).cast("bigint") + 1).alias("wave")
        )
        .groupBy("host", "wave")
        .agg(F.count("*").cast("bigint").alias("n_urls"))
    )


@query(
    "crawl_politeness_waves_crawl_delay",
    """
    WITH u AS (
      SELECT (doc_id % 5) AS k,
             'www.site' || (doc_id % 5) || '.example.com' AS host,
             md5('http://www.site' || (doc_id % 5) || '.example.com/a/'
                 || doc_id) AS ord
      FROM documents
    ),
    d AS (
      SELECT host, ord,
             CASE k WHEN 0 THEN 1.0 WHEN 1 THEN 2.0 WHEN 2 THEN 4.0
                    WHEN 4 THEN 8.0 END AS crawl_delay,
             CASE k WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2
                    WHEN 3 THEN 8 WHEN 4 THEN 1 END AS width
      FROM u
    ),
    r AS (
      SELECT host, crawl_delay, width,
             row_number() OVER (PARTITION BY host ORDER BY ord) AS rn
      FROM d
    )
    SELECT host, CAST(crawl_delay AS DOUBLE) AS crawl_delay,
           CAST(width AS BIGINT) AS width,
           CAST((rn - 1) // width + 1 AS BIGINT) AS wave,
           CAST(count(*) AS BIGINT) AS n_urls
    FROM r GROUP BY host, crawl_delay, width, wave
    """,
)
def crawl_politeness_waves_crawl_delay(spark, sf_dir):
    """Politeness scheduling DRIVEN BY the hosts' declared Crawl-delay
    (round-10 VERDICT #2: the parser consumed the field for grouping
    transparency but the scheduler ignored it): each host's robots.txt
    parses executor-side (``parse_robots_delays`` — sharing group
    selection with the rule gate), and the per-wave width becomes
    ``max(1, floor(8 / delay))`` fetch slots (8 s of budget per wave at
    1 req/delay-seconds; hosts declaring no valid delay default to 1 s).
    The five hosts exercise the arms: delay 1 (width 8), 2 (4), 4 (2),
    host3 NO delay + an invalid 'Crawl-delay: soon' line (ignored →
    default width 8, NULL delay in the output), host4 a decoy
    'otherbot' group with delay 2 whose selection would flip the width
    to 4 — the ``*`` fallback's delay 8 must win (width 1). The oracle
    writes each host's delay/width from the fixture arithmetic, so a
    parse, selection, or pacing bug flips widths and wave counts."""
    from vmware_graph_spark.operators.crawl import parse_robots_delays

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 5).cast("string")
    url = F.concat(
        F.lit("http://www.site"), k, F.lit(".example.com/a/"),
        F.col("doc_id").cast("string"),
    )
    u = d.select(
        F.concat(F.lit("www.site"), k, F.lit(".example.com")).alias("host"),
        F.md5(url).alias("ord"),
    )
    bodies = [
        "User-agent: examplebot\nCrawl-delay: 1\nDisallow: /private/\n",
        "User-agent: examplebot\nCrawl-delay: 2\n",
        "User-agent: examplebot\nCrawl-delay: 4\n",
        "User-agent: examplebot\nCrawl-delay: soon\nDisallow: /x\n",
        # the decoy group needs a RULE to close its agent run —
        # Crawl-delay is grouping-transparent, so a delay-only group
        # would merge '*' into otherbot's agent list
        "User-agent: otherbot\nCrawl-delay: 2\nDisallow: /o\n\n"
        "User-agent: *\nCrawl-delay: 8\n",
    ]
    robots = spark.createDataFrame(
        [(f"www.site{i}.example.com", b) for i, b in enumerate(bodies)],
        "host string, robots_txt string",
    )
    delays = parse_robots_delays(robots, "examplebot")
    width = F.greatest(
        F.lit(1).cast("bigint"),
        F.floor(F.lit(8.0) / F.coalesce(F.col("crawl_delay"), F.lit(1.0))),
    )
    sched = u.join(F.broadcast(delays), "host", "left").select(
        "host", "ord", F.col("crawl_delay"), width.alias("width")
    )
    w = Window.partitionBy("host").orderBy("ord")
    r = sched.select(
        "host", "crawl_delay", "width", F.row_number().over(w).alias("rn")
    )
    return (
        r.select(
            "host", "crawl_delay", "width",
            (((F.col("rn") - 1) / F.col("width")).cast("bigint") + 1).alias("wave"),
        )
        .groupBy("host", "crawl_delay", "width", "wave")
        .agg(F.count("*").cast("bigint").alias("n_urls"))
    )


@query(
    "charset_sniff_pages",
    """
    SELECT doc_id,
           CASE doc_id % 4
             WHEN 0 THEN 'utf-8'
             WHEN 1 THEN 'windows-1252'
             WHEN 2 THEN 'iso-8859-1'
             ELSE 'shift_jis'
           END AS charset
    FROM documents
    """,
)
def charset_sniff_pages(spark, sf_dir):
    """Effective-charset detection with WHATWG precedence (transport
    header > <meta charset> > legacy http-equiv > utf-8 default) —
    the step a crawl runs before decoding bytes to text. Four
    deterministic page shapes exercise every precedence arm, including
    the header-beats-meta and the http-equiv-only legacy form; the
    oracle writes the expected charset per arm as ground truth. Pure
    Catalyst (page + header built by concat/CASE, sniffed by the
    regexp chain)."""
    from vmware_graph_spark.functions.text import sniff_charset

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 4
    ct = (
        F.when(m == 0, F.lit("text/html; charset=UTF-8"))
        .when(m == 2, F.lit("text/html; charset=iso-8859-1"))
        .otherwise(F.lit("text/html"))
    )
    page = (
        F.when(
            m == 1,
            F.lit('<html><head><meta charset="windows-1252"></head><body>x</body></html>'),
        )
        .when(
            m == 3,
            F.lit(
                '<html><head><meta http-equiv="Content-Type" '
                'content="text/html; charset=Shift_JIS"></head>'
                "<body>x</body></html>"
            ),
        )
        .otherwise(F.lit("<html><head></head><body>x</body></html>"))
    )
    return d.select("doc_id", sniff_charset(ct, page).alias("charset"))


@query(
    "link_frontier_discovery",
    """
    WITH rel_new AS (
      SELECT (doc_id % 5) AS k, 1 AS n FROM documents
    ),
    abs_new AS (
      SELECT ((doc_id + 1) % 5) AS k, 1 AS n FROM documents d
      WHERE NOT EXISTS (
        SELECT 1 FROM documents d2 WHERE d2.doc_id = d.doc_id + 1
      )
    ),
    u AS (SELECT * FROM rel_new UNION ALL SELECT * FROM abs_new)
    SELECT 'www.site' || k || '.example.com' AS host,
           CAST(sum(n) AS BIGINT) AS n_new_urls
    FROM u GROUP BY 1
    """,
)
def link_frontier_discovery(spark, sf_dir):
    """The frontier-growing half of the crawl loop: pages carry four
    anchors each (an absolute link to the NEXT document's page, a
    root-relative link, a javascript: and a fragment link), hrefs are
    harvested and resolved in Catalyst, canonicalized, DISTINCT'd, and
    anti-joined against the already-crawled canonical set — what
    survives is the next fetch wave. The oracle derives the expected
    delta from first principles: every root-relative /b/{id} is new;
    the absolute link to doc_id+1's page is new ONLY where no such
    document exists (corpus boundary / id gaps) — so a resolution,
    canonicalization (the absolute link carries a tracking param and
    the relative one a fragment), or anti-join bug each breaks
    different rows. Scale shape: extraction is per-row, the frontier
    delta is one distinct + one anti-join on the canonical key."""
    from vmware_graph_spark.functions.url import (
        extract_hrefs,
        resolve_href,
        url_scheme,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 5).cast("string")
    k_next = ((F.col("doc_id") + 1) % 5).cast("string")
    i = F.col("doc_id").cast("string")
    i_next = (F.col("doc_id") + 1).cast("string")
    page_url = F.concat(
        F.lit("http://www.site"), k, F.lit(".example.com/a/"), i
    )
    body = F.concat(
        F.lit('<html><body><a href="http://www.site'), k_next,
        F.lit(".example.com/a/"), i_next,
        F.lit('?utm_source=x">next</a><a href="/b/'), i,
        F.lit('#frag">rel</a><a href="javascript:void(0)">js</a>'),
        F.lit('<a href="#top">top</a></body></html>'),
    )
    pages = d.select(page_url.alias("url"), body.alias("html"))
    crawled = pages.select(url_canonical("url").alias("canon"))
    hrefs = pages.select(
        url_scheme("url").alias("s"),
        url_host("url").alias("h"),
        F.explode(extract_hrefs("html")).alias("href"),
    )
    resolved = hrefs.select(
        resolve_href(F.col("s"), F.col("h"), F.col("href")).alias("r")
    ).filter(F.col("r").isNotNull())
    frontier = (
        resolved.select(url_canonical("r").alias("canon"))
        .distinct()
        .join(crawled, "canon", "left_anti")
    )
    return (
        frontier.select(url_host("canon").alias("host"))
        .groupBy("host")
        .agg(F.count("*").cast("bigint").alias("n_new_urls"))
    )


def _link_frontier_oracle() -> str:
    from vmware_graph_spark.queries import ORACLE

    return ORACLE["link_frontier_discovery"]


@query("frontier_dedup_persisted_state", _link_frontier_oracle())
def frontier_dedup_persisted_state(spark, sf_dir):
    """``link_frontier_discovery`` with the crawled set PERSISTED — the
    day-2 crawl loop: the canonical URLs of every crawled page land
    once in a bucket-partitioned crawled-urls index
    (``write_crawled_urls``, marker-stamped-last), and each wave's
    frontier delta anti-joins against the INDEX instead of re-deriving
    the in-flight set (``frontier_against_crawled``) — the persisted-
    index discipline dedup/ANN already follow, applied to the crawl
    state. Decisions are identical to the in-flight twin, so the
    oracle is that twin's SQL, unchanged. Day-2 dynamics (extend cost
    ∝ batch, idempotent retries, crash-marker rule) are pinned by
    tests/test_ext21.py and measured in CRAWL_SCALEBENCH.json's
    frontier_index section."""
    from vmware_graph_spark.functions.url import (
        extract_hrefs,
        resolve_href,
        url_scheme,
    )
    from vmware_graph_spark.operators.crawl import (
        crawl_index_current,
        frontier_against_crawled,
        write_crawled_urls,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 5).cast("string")
    k_next = ((F.col("doc_id") + 1) % 5).cast("string")
    i = F.col("doc_id").cast("string")
    i_next = (F.col("doc_id") + 1).cast("string")
    page_url = F.concat(
        F.lit("http://www.site"), k, F.lit(".example.com/a/"), i
    )
    body = F.concat(
        F.lit('<html><body><a href="http://www.site'), k_next,
        F.lit(".example.com/a/"), i_next,
        F.lit('?utm_source=x">next</a><a href="/b/'), i,
        F.lit('#frag">rel</a><a href="javascript:void(0)">js</a>'),
        F.lit('<a href="#top">top</a></body></html>'),
    )
    pages = d.select(page_url.alias("url"), body.alias("html"))

    idx = os.path.join(
        cache_dir("crawled_urls", data_key(sf_dir, "documents")), "index"
    )
    if not crawl_index_current(idx):  # absent, half-built, or keyed
        # under an older url_canonical version — rebuild either way
        write_crawled_urls(
            pages.select(url_canonical("url").alias("canon")), idx
        )
    hrefs = pages.select(
        url_scheme("url").alias("s"),
        url_host("url").alias("h"),
        F.explode(extract_hrefs("html")).alias("href"),
    )
    resolved = hrefs.select(
        resolve_href(F.col("s"), F.col("h"), F.col("href")).alias("r")
    ).filter(F.col("r").isNotNull())
    candidates = resolved.select(url_canonical("r").alias("canon")).distinct()
    frontier = frontier_against_crawled(spark, idx, candidates)
    return (
        frontier.select(url_host("canon").alias("host"))
        .groupBy("host")
        .agg(F.count("*").cast("bigint").alias("n_new_urls"))
    )


def _ann_index_dir(sf_dir: str) -> str:
    return os.path.join(
        cache_dir("ann_index", data_key(sf_dir, "embeddings")), "index"
    )


def _ivf_learned_oracle() -> str:
    from vmware_graph_spark.queries import ORACLE

    return ORACLE["ivf_learned_topk_embeddings"]


@query("ann_topk_against_persisted_index", _ivf_learned_oracle())
def ann_topk_against_persisted_index(spark, sf_dir):
    """Day-2 ANN serving: the learned-IVF codebook + cluster-partitioned
    corpus lists persist ONCE (``write_ann_index``), and the query
    batch (vec_id % 50 = 0) probes reading ONLY the index — assignment
    against the persisted centroids, partition-pruned inverted-list
    scan, exact cosine top-5 within the list. Results are
    decision-identical to the in-flight ``ivf_learned_topk`` twin, so
    the oracle is that twin's SQL, unchanged (the dedup-index
    discipline applied to similarity search)."""
    from vmware_graph_spark.operators.similarity import (
        ann_topk_against_index,
        write_ann_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    idx = _ann_index_dir(sf_dir)
    if not commit.marked(idx):
        write_ann_index(e, idx, "vec_id", "embedding", "label")
    qs = e.filter(F.col("vec_id") % 50 == 0).select("vec_id", "embedding")
    out = ann_topk_against_index(spark, idx, qs, "vec_id", "embedding", k=5)
    return out.select("qid", "cid", F.round("cos", 6).alias("cos"), "rank")


@query(
    "mrr_retrieval_labels",
    """
    WITH pts AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT * FROM pts WHERE vec_id % 20 = 0),
    s AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nlabel,
             list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM q CROSS JOIN pts c WHERE c.vec_id <> q.vec_id
    ),
    r AS (
      SELECT query_id, nlabel,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM s
    ),
    hit AS (
      SELECT r.query_id, min(r.rank) AS first_rel_rank
      FROM r JOIN q ON q.vec_id = r.query_id
      WHERE r.rank <= 10 AND r.nlabel = q.label
      GROUP BY r.query_id
    )
    SELECT q.vec_id AS query_id,
           CAST(coalesce(h.first_rel_rank, 0) AS BIGINT) AS first_rel_rank,
           round(CASE WHEN h.first_rel_rank IS NULL THEN 0.0
                      ELSE 1.0 / h.first_rel_rank END, 6) AS rr
    FROM q LEFT JOIN hit h ON h.query_id = q.vec_id
    """,
)
def mrr_retrieval_labels(spark, sf_dir):
    """Mean-reciprocal-rank eval rows (the metric the nDCG/RBO/recall
    eval set was missing): for each query vector, the rank of the
    FIRST same-label neighbor within the exact cosine top-10, and its
    reciprocal (0 when no relevant neighbor makes the cut — queries
    with no hit must still appear, or the mean silently inflates).
    MRR itself is avg(rr) — left per-row so the hash gate pins every
    query's outcome, not one scalar."""
    # _score/_topk rather than cosine_topk: the ranked list must
    # EXCLUDE the query itself (cosine 1.0 with its own label would
    # hand every query a free rank-1 hit), and the self-filter has to
    # sit between scoring and ranking so rank stays dense.
    from vmware_graph_spark.operators.similarity import _score, _topk

    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") % 20 == 0)
    scored = _score(qs, e, "vec_id", "embedding").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    top = _topk(scored, 10)
    qlab = qs.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
    nlab = e.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel"))
    hits = (
        top.join(qlab, "query_id")
        .join(nlab, "neighbor_id")
        .filter(F.col("nlabel") == F.col("qlabel"))
        .groupBy("query_id")
        .agg(F.min("rank").alias("first_rel_rank"))
    )
    return qlab.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("first_rel_rank", F.lit(0)).cast("bigint").alias("first_rel_rank"),
        F.round(
            F.when(F.col("first_rel_rank").isNull(), F.lit(0.0)).otherwise(
                1.0 / F.col("first_rel_rank")
            ),
            6,
        ).alias("rr"),
    )
