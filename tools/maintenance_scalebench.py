"""Scale measurement for the round-10 crawl-maintenance family:
sitemap fleet decode, recrawl scheduling, URL-parameter mining, and
redirect-chain resolution at 1x/10x/100x work volume.

Work drivers (sf0.1 documents = ~50k rows as the 1x unit; override via
MAINT_SRC_SF):

- ``sitemap_decode``: n_copies * 8 GZIPPED urlset files, 1/8 of the
  tier's entries each, through ``read_sitemaps`` — parallelism = file
  count (the WARC placement);
- ``recrawl``: 4 fetches per URL per tier (tenant-shifted copies), the
  lag-window change detection + rollup of ``recrawl_priority``;
- ``param_mining``: 2 params per URL, ``mine_content_params``'s
  explode → (key, group) → key aggregation chain;
- ``redirect_resolution``: chains of 1-4 hops per URL plus a 2-cycle
  each 97th, ``resolve_redirects``'s fixed ceil(log2(32)) = 5
  self-join rounds — the wall should grow with EDGES, never with
  rounds (the round count is scale-free).

Each stage asserts its exactly-derivable output count, so the measured
rows double as correctness checks at scale (the crawl_scalebench
discipline). Sets the ``maintenance`` section of CRAWL_SCALEBENCH.json
with --merge, else writes it to /tmp/maintenance_scalebench.json.

The committed 100x tier was measured at the engine's old 12g default
heap; set SPARK_DRIVER_MEM=12g to reproduce it.

Usage: python tools/maintenance_scalebench.py [--merge] [copies...]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

SRC_SF = os.environ.get("MAINT_SRC_SF", "/root/testdata/sf0.1")
FLEET = "/tmp/vgs_sitemap_fleet"
SHARDS_PER_COPY = 8


def main() -> None:
    from pyspark.sql import functions as F

    from vmware_graph_spark.operators.crawl import (
        mine_content_params,
        recrawl_priority,
        resolve_redirects,
    )
    from vmware_graph_spark.sources.sitemap import read_sitemaps, write_sitemap_files

    _words, copies = h.cli([1, 10, 100])
    spark = h.spark("maintenance-scalebench")

    import duckdb

    ids = [r[0] for r in duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{SRC_SF}/documents.parquet') ORDER BY doc_id"
    ).fetchall()]
    n1 = len(ids)

    report: dict = {"unit_rows": n1, "load_1m_at_start": round(os.getloadavg()[0], 2),
                    "copies": {}}
    for n in copies:
        entry: dict = {}

        # -- sitemap fleet decode -----------------------------------------
        with h.timed(1) as t:
            if os.path.isdir(FLEET):
                shutil.rmtree(FLEET)
            for c in range(n):
                shards = {f"c{c:03d}_s{i}": [] for i in range(SHARDS_PER_COPY)}
                for did in ids:
                    tid = did + c * 1_000_000
                    shards[f"c{c:03d}_s{did % SHARDS_PER_COPY}"].append(
                        {"loc": f"http://www.site{tid % 5}.example.com/a/{tid}",
                         "lastmod": "2026-01-01", "priority": f"{(tid % 10) / 10:.1f}"}
                    )
                write_sitemap_files(shards, FLEET, index_name=None, gzip_files=True)
        entry["build_fleet_s"] = t.s
        with h.timed() as t:
            got = read_sitemaps(spark, f"{FLEET}/*.xml.gz").filter("kind = 'url'").count()
        entry["sitemap_decode_s"] = t.s
        entry["sitemap_files"] = n * SHARDS_PER_COPY
        entry["sitemap_entries"] = got
        assert got == n1 * n, (got, n1 * n)
        entry["sitemap_entries_per_s"] = round(got / entry["sitemap_decode_s"], 0)

        # -- shared tenant-shifted URL set ---------------------------------
        base = spark.read.parquet(f"{SRC_SF}/documents.parquet").select("doc_id")
        d = base.select(
            F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("c"), "doc_id"
        ).select((F.col("doc_id") + F.col("c") * 1_000_000).alias("id"))
        i = F.col("id").cast("string")

        # -- recrawl scheduling --------------------------------------------
        with h.timed() as t:
            fetches = d.select(
                "id", F.explode(F.array(*[F.lit(v) for v in range(4)])).alias("v")
            )
            version = sum(
                [F.when((F.col("v") >= k) & ((F.col("id") + k * k) % 4 == 0), 1)
                 .otherwise(0) for k in (1, 2, 3)],
                F.lit(0),
            )
            hist = fetches.select(
                F.concat(F.lit("http://h/"), i).alias("url"),
                (F.to_timestamp(F.lit("2026-06-01 00:00:00"))
                 + F.make_dt_interval(F.col("v") * 7)).alias("fetch_ts"),
                F.md5(F.concat(i, F.lit("|"), version.cast("string"))).alias("fp"),
            )
            out = recrawl_priority(hist, F.lit("2026-08-16"))
            n_urls = out.count()
        entry["recrawl_s"] = t.s
        entry["recrawl_history_rows"] = n1 * n * 4
        assert n_urls == n1 * n, (n_urls, n1 * n)

        # -- URL-parameter mining -------------------------------------------
        with h.timed() as t:
            pages = d.select(
                F.concat(F.lit("http://h/p?id="), (F.col("id") % 5000).cast("string"),
                         F.lit("&sess="), (F.col("id") % 97).cast("string")).alias("url"),
                F.md5(F.concat(F.lit("c"), (F.col("id") % 5000).cast("string"))).alias("fp"),
            ).distinct()
            res = {r.param_key: r.content_bearing
                   for r in mine_content_params(pages).collect()}
        entry["param_mining_s"] = t.s
        entry["param_mining_urls"] = n1 * n
        assert res.get("id") == 1 and res.get("sess") == 0, res

        # -- redirect resolution ---------------------------------------------
        with h.timed() as t:
            chain = d.filter(F.col("id") % 97 != 0).select(
                "id", F.explode(F.sequence(F.lit(0), F.col("id") % 4)).alias("k")
            )
            L = F.col("id") % 4
            ce = chain.select(
                F.concat(F.lit("/c/"), i, F.lit("/"), F.col("k").cast("string")).alias("src"),
                F.when(F.col("k") < L,
                       F.concat(F.lit("/c/"), i, F.lit("/"), (F.col("k") + 1).cast("string"))
                       ).otherwise(F.concat(F.lit("/t/"), i)).alias("dst"),
            )
            cyc = d.filter(F.col("id") % 97 == 0).select(
                "id", F.explode(F.array(F.lit(0), F.lit(1))).alias("k")
            )
            cye = cyc.select(
                F.concat(F.lit("/c/"), i, F.lit("/"), F.col("k").cast("string")).alias("src"),
                F.concat(F.lit("/c/"), i, F.lit("/"), (1 - F.col("k")).cast("string")).alias("dst"),
            )
            edges = ce.unionByName(cye)
            n_edges = edges.count()
            resolved = resolve_redirects(edges)
            n_unres = resolved.filter("status = 'unresolved'").count()
            n_ok = resolved.filter("status = 'ok'").count()
        entry["redirect_s"] = t.s
        entry["redirect_edges"] = n_edges
        assert n_ok + n_unres == n_edges, (n_ok, n_unres, n_edges)
        # every row of a cycle is unresolved: 2 per 97th URL
        n_cyc = d.filter(F.col("id") % 97 == 0).count()
        assert n_unres == 2 * n_cyc, (n_unres, n_cyc)

        h.progress(report["copies"], str(n), entry)

    shutil.rmtree(FLEET, ignore_errors=True)
    h.write_report("maintenance_scalebench", {"maintenance": report},
                   artifact="CRAWL_SCALEBENCH.json")


if __name__ == "__main__":
    main()
