"""One scale row for the COMPOSED crawl loop (round-10 VERDICT #7,
reworked round-12 per VERDICT #3): seed → robots parse+gate (rules AND
Crawl-delay) → frontier delta against the persisted crawled-URL index →
per-host politeness waves through the RANGE-BUCKETED exact rank with
delay-driven widths → Hamilton budget split, as a single lineage at
frontier scale.

Two arms:

- ``crawl_loop``: 10k-host frontier (the bounded-partition case);
- ``crawl_loop_giant_host``: ~99% of the seeds on ONE host (every seed
  except each 101st) — the skew case the composition previously
  single-tasked through a plain per-host window; the
  ``exact_global_rank(partition_cols=['host'])`` route now computes the
  giant host's ranks across ~buckets parallel tasks.

Shape differences vs the oracle-paired ``crawl_loop_pipeline`` query
(documented, deliberate): seeds are generated IN-ENGINE (spark.range —
the sitemap FILE decode cost is measured separately in the
``maintenance.sitemap_decode`` tiers). The robots bodies still parse
through the production executor-side parser (rules + Crawl-delay from
the SAME bodies), the crawled index is the production marker-stamped
layout, and each arm's ENTIRE per-host result (eligible count, wave
width, wave count, Hamilton allocation over a 1M-slot budget) is
compared row-for-row against a DuckDB integer recompute from first
principles — 0 differences required.

Sets the ``crawl_loop`` and ``crawl_loop_giant_host`` sections of
CRAWL_SCALEBENCH.json with --merge, else writes them to
/tmp/crawl_loop_scalebench.json.

Usage: python tools/crawl_loop_scalebench.py [--merge] [n_seeds [n_giant_seeds]]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

N_HOSTS = 10_000
BUDGET = 1_000_000
IDX = "/tmp/vgs_crawl_loop_idx"

# Crawl-delay by host class (h % 4) -> wave width max(1, floor(8/d))
DELAYS = [1, 2, 4, 8]
WIDTHS = [8, 4, 2, 1]


def _duck_per_host(eligible_sql: str) -> str:
    """DuckDB recompute, from first principles, of every per-host row
    (host, eligible, width, waves, Hamilton allocation) the loop yields.
    ``eligible_sql`` gives one ``(h, width)`` row per eligible seed, with
    ``h`` the host string."""
    return f"""
        WITH e AS ({eligible_sql}),
        wd AS (
          SELECT h, CAST(count(*) AS BIGINT) AS n, CAST(width AS BIGINT) AS width
          FROM e GROUP BY h, width
        ),
        tot AS (SELECT sum(n) AS w FROM wd),
        base AS (
          SELECT h, n, width, ({BUDGET} * n) // w AS b, ({BUDGET} * n) % w AS rem
          FROM wd, tot
        ),
        rk AS (
          -- remainder ties break on the HOST STRING (the engine's
          -- key), not a numeric id: 'h10' < 'h2'
          SELECT *, row_number() OVER (ORDER BY rem DESC, h) AS r,
                 (SELECT {BUDGET} - sum(b) FROM base) AS leftover
          FROM base
        )
        SELECT h AS host, n, width,
               CAST(CEIL(CAST(n AS DOUBLE) / width) AS BIGINT) AS n_waves,
               CAST(b + CASE WHEN r <= leftover THEN 1 ELSE 0 END AS BIGINT)
        FROM rk
    """


def main() -> None:
    import duckdb
    from pyspark.sql import functions as F

    from vmware_graph_spark.operators.crawl import (
        apportion_budget,
        frontier_against_crawled,
        parse_robots,
        parse_robots_delays,
        robots_filter,
        write_crawled_urls,
    )
    from vmware_graph_spark.operators.rank import exact_global_rank

    _words, args = h.cli()
    n_seeds = args[0] if args else 5_000_000

    load_at_start = round(os.getloadavg()[0], 2)
    spark = h.spark("crawl-loop-scalebench")

    def run_arm(seeds, robots, n_rule_rows, duck_sql, *, index_seeds):
        """Run the composed loop over `seeds` and compare every per-host
        row against the DuckDB recompute. Returns (loop_s, got_rows)."""
        shutil.rmtree(IDX, ignore_errors=True)
        with h.timed() as t:
            write_crawled_urls(index_seeds.select("canon"), IDX)
        index_build_s = t.s

        with h.timed() as t:
            rules = parse_robots(robots, "examplebot")
            delays = parse_robots_delays(robots, "examplebot")
            gated = robots_filter(
                seeds, rules, rules_rows=n_rule_rows
            ).filter(F.col("fetch_allowed")).drop("fetch_allowed")
            frontier = frontier_against_crawled(spark, IDX, gated)
            width = F.greatest(
                F.lit(1).cast("bigint"),
                F.floor(F.lit(8.0) / F.coalesce(F.col("crawl_delay"), F.lit(1.0))),
            )
            sched = frontier.join(F.broadcast(delays), "host", "left").select(
                "host",
                "canon",
                width.alias("width"),
                F.conv(F.substring(F.md5("canon"), 1, 15), 16, 10)
                .cast("bigint")
                .alias("ord"),
            )
            r = exact_global_rank(
                sched, ["ord", "canon"], rank_col="rn", partition_cols=["host"]
            )
            waves = r.select(
                "host",
                "width",
                (((F.col("rn") - 1) / F.col("width")).cast("bigint") + 1).alias(
                    "wave"
                ),
            )
            per_host = waves.groupBy("host", "width").agg(
                F.count("*").cast("bigint").alias("n_eligible"),
                F.max("wave").cast("bigint").alias("n_waves"),
            )
            alloc = apportion_budget(
                per_host.select("host", F.col("n_eligible").alias("weight")), BUDGET
            )
            got = sorted(
                (r.host, r.n_eligible, r.width, r.n_waves, r.alloc)
                for r in per_host.join(alloc.select("host", "alloc"), "host").collect()
            )
        loop_s = t.s

        want = sorted(tuple(r) for r in duckdb.sql(duck_sql).fetchall())
        diffs = sum(1 for a, b in zip(got, want) if a != b) + abs(
            len(got) - len(want)
        )
        assert diffs == 0, f"{diffs} per-host rows differ from the DuckDB recompute"
        return index_build_s, loop_s, got

    i = F.col("id")

    # ---------------- arm 1: 10k-host frontier ----------------
    seeds = spark.range(n_seeds).select(
        F.concat(F.lit("h"), (i % N_HOSTS).cast("string")).alias("host"),
        F.concat(F.lit("/a/"), i.cast("string")).alias("path"),
        F.concat(
            F.lit("http://h"), (i % N_HOSTS).cast("string"),
            F.lit(".example.com/a/"), i.cast("string"),
        ).alias("canon"),
    )
    robots = spark.range(N_HOSTS).select(
        F.concat(F.lit("h"), i.cast("string")).alias("host"),
        F.concat(
            F.lit("User-agent: examplebot\nCrawl-delay: "),
            F.element_at(
                F.array(*[F.lit(str(d)) for d in DELAYS]),
                (i % 4).cast("int") + 1,
            ),
            F.lit("\nDisallow: /a/\nAllow: /a/*"),
            (i % 7).cast("string"), F.lit("$\n"),
        ).alias("robots_txt"),
    )
    duck_main = _duck_per_host(f"""
        SELECT 'h' || (i % {N_HOSTS}) AS h,
               CASE (i % {N_HOSTS}) % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                    WHEN 2 THEN 2 ELSE 1 END AS width
        FROM range({n_seeds}) t(i)
        WHERE i % 10 = (i % {N_HOSTS}) % 7 AND i % 4 <> 0
    """)
    idx_s, loop_s, got = run_arm(
        seeds, robots, 2 * N_HOSTS, duck_main,
        index_seeds=seeds.filter(i % 4 == 0),
    )

    report_main = {
        "load_1m_at_start": load_at_start,
        "seeds": n_seeds,
        "hosts": N_HOSTS,
        "budget": BUDGET,
        "index_keys": n_seeds // 4 + (1 if n_seeds % 4 else 0),
        "index_build_s": idx_s,
        "loop_s": loop_s,
        "seeds_per_s": round(n_seeds / loop_s, 0),
        "eligible": int(sum(r[1] for r in got)),
        "alloc_total": int(sum(r[4] for r in got)),
        "per_host_rows_vs_duckdb_diffs": 0,
        "wave_widths": "crawl-delay driven (1/2/4/8s -> 8/4/2/1 slots)",
    }
    assert report_main["alloc_total"] == BUDGET

    # ------------- arm 2: giant-host frontier (99% one host) -------------
    n_giant = args[1] if len(args) > 1 else n_seeds
    ghost = F.when(
        i % 101 == 0,
        F.concat(F.lit("side"), (i % 2).cast("string")),
    ).otherwise(F.lit("giant"))
    gseeds = spark.range(n_giant).select(
        ghost.alias("host"),
        F.concat(F.lit("/a/"), i.cast("string")).alias("path"),
        F.concat(
            F.lit("http://"), ghost, F.lit(".example.com/a/"), i.cast("string")
        ).alias("canon"),
    )
    grobots = spark.createDataFrame(
        [
            (host, "User-agent: examplebot\nCrawl-delay: 2\n"
                   "Disallow: /a/\nAllow: /a/*0$\n")
            for host in ("giant", "side0", "side1")
        ],
        "host string, robots_txt string",
    )
    duck_giant = _duck_per_host(f"""
        SELECT CASE WHEN i % 101 = 0 THEN 'side' || (i % 2)
                    ELSE 'giant' END AS h, 4 AS width
        FROM range({n_giant}) t(i)
        WHERE i % 10 = 0 AND i % 4 <> 0
    """)
    gidx_s, gloop_s, ggot = run_arm(
        gseeds, grobots, 6, duck_giant,
        index_seeds=gseeds.filter(i % 4 == 0),
    )
    report_giant = {
        "seeds": n_giant,
        "hosts": 3,
        "giant_host_share": round(1 - 1 / 101, 4),
        "budget": BUDGET,
        "index_build_s": gidx_s,
        "loop_s": gloop_s,
        "seeds_per_s": round(n_giant / gloop_s, 0),
        "eligible": int(sum(r[1] for r in ggot)),
        "alloc_total": int(sum(r[4] for r in ggot)),
        "per_host_rows_vs_duckdb_diffs": 0,
        "note": "wave rank range-bucketed per host: the giant host's "
                "frontier ranks across ~64 parallel tasks, not one",
    }
    assert report_giant["alloc_total"] == BUDGET
    shutil.rmtree(IDX, ignore_errors=True)

    h.write_report(
        "crawl_loop_scalebench",
        {"crawl_loop": report_main, "crawl_loop_giant_host": report_giant},
        artifact="CRAWL_SCALEBENCH.json",
    )


if __name__ == "__main__":
    main()
