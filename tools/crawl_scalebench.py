"""Scale measurement for the web-crawl prep family (round-9 addition):
WARC fleet decode, HTML→text extraction, and URL canonicalization at
1x/10x/100x ARCHIVE volume — the Common Crawl growth mode (more ~equal
segments, not bigger ones).

Fixture: the sf0.1 documents table (override via CRAWL_SRC_SF) rendered as deterministic HTML
pages (the queries_ext21 template) into 8 .warc shards per copy;
copies tenant-shift doc_ids so records stay distinct. 100x = 800
archives / ~500k pages.

Measured per scale N in {1, 10, 100} (copies):

- ``warc_decode_s``: read_warc().count() — the per-archive Python
  framing parse, parallelism = archive count;
- ``crawl_pipeline_s``: the full crawl_prep_pipeline shape over the
  scaled fleet (status gate → html_to_text → tokens/lang → host
  rollup) — extraction is a pure-Catalyst regexp chain, so this is
  the JVM-side cost on top of decode;
- ``url_canon_s``: 4 raw spellings per page canonicalized + grouped
  (one narrow shuffle on the canonical key).

The committed 100x tier was measured at the engine's old 12g default
heap; set SPARK_DRIVER_MEM=12g to reproduce it.

Usage: python tools/crawl_scalebench.py [out_json] [copies...]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

FLEET = "/tmp/vgs_warc_fleet"
SRC_SF = os.environ.get("CRAWL_SRC_SF", "/root/testdata/sf0.1")
SHARDS_PER_COPY = 8


def build_fleet(n_copies: int) -> int:
    """Write n_copies * SHARDS_PER_COPY archives — each copy both as a
    plain .warc and as a per-member-gzipped .warc.gz (the Common Crawl
    layout), so the gz decode cost is measured on the SAME records.
    Returns page count. Driver-side by design (fixture synthesis; the
    engine path under test is the READ side)."""
    import duckdb

    from vmware_graph_spark.queries_ext21 import _html_page
    from vmware_graph_spark.sources.warc import write_warc_files

    if os.path.isdir(FLEET):
        shutil.rmtree(FLEET)
    rows = duckdb.sql(
        f"SELECT doc_id, text, n_chars FROM "
        f"read_parquet('{SRC_SF}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    n_pages = 0
    for c in range(n_copies):
        shards: dict[str, list[dict]] = {
            f"c{c:03d}_s{i}": [] for i in range(SHARDS_PER_COPY)
        }
        for did, text, nc in rows:
            tid = did + c * 1_000_000
            shards[f"c{c:03d}_s{did % SHARDS_PER_COPY}"].append(
                {
                    "uri": (
                        f"http://www.site{tid % 5}.example.com/docs/{tid}"
                        "?utm_source=crawler"
                    ),
                    "status": 404 if tid % 53 == 0 else 200,
                    "body": _html_page(tid, text, nc).encode("utf-8"),
                }
            )
            n_pages += 1
        write_warc_files(shards, os.path.join(FLEET, "plain"))
        write_warc_files(shards, os.path.join(FLEET, "gz"), gzip_members=True)
    return n_pages


def main() -> None:
    words, copies = h.cli([1, 10, 100])

    from pyspark.sql import functions as F

    from vmware_graph_spark.functions.text import html_to_text, lang_id, n_tokens
    from vmware_graph_spark.functions.url import (
        extract_hrefs,
        resolve_href,
        url_canonical,
        url_host,
        url_scheme,
    )
    from vmware_graph_spark.sources.warc import read_warc, read_warc_stream

    spark = h.spark("crawl-scalebench")

    report: dict = {"load_1m_at_start": round(os.getloadavg()[0], 2), "copies": {}}
    for n in copies:
        with h.timed(1) as t:
            n_pages = build_fleet(n)
        build_s = t.s
        glob = f"{FLEET}/plain/*.warc"
        gz_glob = f"{FLEET}/gz/*.warc.gz"
        n_archives = n * SHARDS_PER_COPY

        with h.timed() as t:
            decoded_rows = read_warc(spark, glob).count()
        decode_s = t.s

        # Gzipped twin (per-member compression — the Common Crawl
        # layout): same records, same file grain; the delta is pure
        # decompression cost inside the executor-side parser.
        with h.timed() as t:
            gz_rows = read_warc(spark, gz_glob).count()
        gz_decode_s = t.s
        assert gz_rows == decoded_rows, (gz_rows, decoded_rows)
        gz_bytes = h.du_bytes(f"{FLEET}/gz")
        plain_bytes = h.du_bytes(f"{FLEET}/plain")

        with h.timed() as t:
            recs = read_warc(spark, glob)
            text = html_to_text(F.col("body").cast("string"))
            page = recs.filter(F.col("http_status") == 200).select(
                url_host("uri").alias("host"), text.alias("t")
            )
            scored = page.select(
                "host",
                n_tokens("t").cast("bigint").alias("n_toks"),
                lang_id("t").alias("lang_pred"),
            )
            rollup = (
                scored.filter(F.col("n_toks") >= 5)
                .groupBy("host")
                .agg(
                    F.count("*").alias("n_pages"),
                    F.sum("n_toks").alias("total_toks"),
                    F.countDistinct("lang_pred").alias("n_langs"),
                )
            )
            hosts = rollup.count()
        pipeline_s = t.s

        with h.timed() as t:
            recs = read_warc(spark, glob).select("uri")
            variants = recs.select(
                F.explode(
                    F.array(
                        F.col("uri"),
                        F.concat(F.col("uri"), F.lit("&utm_campaign=x")),
                        F.concat(F.upper(F.col("uri")), F.lit("#frag")),
                        F.regexp_replace("uri", "^http:", "https:"),
                    )
                ).alias("url")
            )
            canon = (
                variants.select(url_canonical("url").alias("c"))
                .groupBy("c")
                .agg(F.count("*").alias("n"))
            )
            canon_groups = canon.count()
        url_s = t.s

        stream_entry = None
        if n >= 10:
            # Streaming twin at scale: 8 archives per micro-batch →
            # n batches; per-batch cost should stay flat (stateless
            # projection, the parser is the same function object).
            run = tempfile.mkdtemp(prefix="vgs_crawl_stream_")
            recs_s = read_warc_stream(spark, glob, max_files_per_trigger=8)
            t_s = html_to_text(F.col("body").cast("string"))
            page_s = recs_s.filter(F.col("http_status") == 200).select(
                url_host("uri").alias("host"),
                n_tokens(t_s).cast("bigint").alias("n_toks"),
            )
            with h.timed() as t:
                q = (
                    page_s.writeStream.format("parquet")
                    .option("path", os.path.join(run, "sink"))
                    .option("checkpointLocation", os.path.join(run, "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination(1800)
            stream_wall = t.s
            n_batches = max(1, n_archives // 8)
            sunk = spark.read.parquet(os.path.join(run, "sink")).count()
            stream_entry = {
                "stream_wall_s": stream_wall,
                "micro_batches": n_batches,
                "per_batch_s": round(stream_wall / n_batches, 3),
                "rows_sunk": sunk,
            }
            shutil.rmtree(run, ignore_errors=True)

        # Link-frontier discovery at scale: pages replicated in-engine
        # (explode over a copy index, tenant-shifted ids), then the full
        # harvest -> resolve -> canonicalize -> distinct -> anti-join.
        with h.timed() as t:
            base = spark.read.parquet(f"{SRC_SF}/documents.parquet").select("doc_id")
            d = base.select(
                "doc_id", F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("c")
            ).select((F.col("doc_id") + F.col("c") * 1_000_000).alias("doc_id"))
            kk = (F.col("doc_id") % 5).cast("string")
            kn = ((F.col("doc_id") + 1) % 5).cast("string")
            ii = F.col("doc_id").cast("string")
            inx = (F.col("doc_id") + 1).cast("string")
            pages_f = d.select(
                F.concat(
                    F.lit("http://www.site"), kk, F.lit(".example.com/a/"), ii
                ).alias("url"),
                F.concat(
                    F.lit('<html><body><a href="http://www.site'), kn,
                    F.lit(".example.com/a/"), inx,
                    F.lit('?utm_source=x">n</a><a href="/b/'), ii,
                    F.lit('#f">r</a></body></html>'),
                ).alias("html"),
            )
            crawled = pages_f.select(url_canonical("url").alias("canon"))
            hrefs = pages_f.select(
                url_scheme("url").alias("s"),
                url_host("url").alias("h"),
                F.explode(extract_hrefs("html")).alias("href"),
            )
            resolved = hrefs.select(
                resolve_href(F.col("s"), F.col("h"), F.col("href")).alias("r")
            ).filter(F.col("r").isNotNull())
            frontier_n = (
                resolved.select(url_canonical("r").alias("canon"))
                .distinct()
                .join(crawled, "canon", "left_anti")
                .count()
            )
        frontier_s = t.s

        entry = {
            "archives": n_archives,
            "pages": n_pages,
            "build_fleet_s": build_s,
            "warc_decode_s": decode_s,
            "decode_pages_per_s": round(n_pages / decode_s, 0),
            "decoded_rows": decoded_rows,
            "warc_gz_decode_s": gz_decode_s,
            "gz_decode_pages_per_s": round(n_pages / gz_decode_s, 0),
            "gz_vs_plain_ratio": round(gz_decode_s / decode_s, 2),
            "gz_bytes": gz_bytes,
            "plain_bytes": plain_bytes,
            "gz_compression": round(plain_bytes / gz_bytes, 2),
            "crawl_pipeline_s": pipeline_s,
            "pipeline_hosts": hosts,
            "url_canon_s": url_s,
            "url_raw_spellings": n_pages * 4,
            "url_canon_groups": canon_groups,
            "link_frontier_s": frontier_s,
            "link_hrefs_resolved": n_pages * 2,
            "link_frontier_new": frontier_n,
        }
        if stream_entry is not None:
            entry["streaming"] = stream_entry
        h.progress(report["copies"], f"{n}", entry)

    h.write_report("crawl_scalebench", report, words[0] if words else None)


if __name__ == "__main__":
    main()
