"""Scale rows for the page-level REP chain (round-12): pages →
``page_directives`` (meta-robots + X-Robots-Tag) → ``extract_links_rel``
→ rel-token filter → resolve → canonicalize → per-target in-link counts,
at 1x/10x page volume.

Pages are generated IN-ENGINE (Catalyst concat over spark.range — no
driver bytes): arm i%4 ∈ {clean, meta-nofollow, header-nofollow, clean},
each page carrying one plain and one rel=nofollow anchor, so the
followed-link total and the distinct-target count are exactly derivable
and asserted per tier — the measured pages/s double as at-scale
correctness checks (the crawl_scalebench discipline).

Sets the ``page_rep`` section of CRAWL_SCALEBENCH.json with --merge,
else writes it to /tmp/page_rep_scalebench.json.

Usage: python tools/page_rep_scalebench.py [--merge] [n_pages...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

N_TARGETS = 100_000


def main() -> None:
    from pyspark.sql import functions as F

    from vmware_graph_spark.functions.url import (
        extract_links_rel,
        resolve_href,
        url_canonical,
        url_host,
        url_scheme,
    )
    from vmware_graph_spark.operators.crawl import page_directives

    _words, tiers = h.cli([200_000, 2_000_000])
    load_at_start = round(os.getloadavg()[0], 2)
    spark = h.spark("page-rep-scalebench")

    report: dict = {"load_1m_at_start": load_at_start, "tiers": {}}
    for n in tiers:
        i = F.col("id")
        s = i.cast("string")
        m = (i % N_TARGETS).cast("string")
        tm = F.concat(
            F.lit("http://t"), ((i % N_TARGETS) % 50).cast("string"),
            F.lit(".example.com/t/"), m,
        )
        meta = F.when(
            i % 4 == 1, F.lit('<meta name="robots" content="nofollow">')
        ).otherwise(F.lit(""))
        html = F.concat(
            F.lit("<html><head>"), meta,
            F.lit('</head><body><p>filler text for realism, page '), s,
            F.lit('</p><a href="'), tm, F.lit('">go</a>'),
            F.lit('<a rel="nofollow" href="'), tm, F.lit('?ad=1">ad</a>'),
            F.lit("</body></html>"),
        )
        hdr = F.when(i % 4 == 2, F.lit("nofollow")).otherwise(
            F.lit(None).cast("string")
        )
        pages = spark.range(n).select(
            F.concat(F.lit("http://p"), (i % 1000).cast("string"),
                     F.lit(".example.com/a/"), s).alias("url"),
            html.alias("html"),
            hdr.alias("x_robots"),
        )

        with h.timed() as t:
            pd_ = page_directives(F.col("html"), F.col("x_robots"))
            followable = pages.filter(~pd_["nofollow"])
            links = followable.select(
                url_scheme("url").alias("s"),
                url_host("url").alias("h"),
                F.explode(extract_links_rel("html")).alias("l"),
            ).filter(~F.col("l.rel").rlike(r"(^|\s)nofollow($|\s)"))
            resolved = links.select(
                resolve_href(F.col("s"), F.col("h"), F.col("l.href")).alias("r")
            ).filter(F.col("r").isNotNull())
            agg = (
                resolved.select(url_canonical("r").alias("target"))
                .groupBy("target")
                .agg(F.count("*").alias("c"))
                .agg(
                    F.count("*").alias("targets"),
                    F.sum("c").alias("inlinks"),
                )
                .collect()[0]
            )

        # exactly derivable: arms 0 and 3 contribute ONE followed link
        # each. (page, arm) repeats with period lcm(N_TARGETS, 4) =
        # N_TARGETS (N_TARGETS ≡ 0 mod 4), so target id and REP arm
        # correlate PERMANENTLY: only even-ish residues (m%4 ∈ {0,3})
        # ever receive a followed link — one period determines the
        # distinct-target set exactly.
        want_inlinks = sum(1 for k in range(4) if k in (0, 3)) * (n // 4)
        want_inlinks += sum(1 for r in range(n % 4) if r in (0, 3))
        want_targets = len(
            {k % N_TARGETS for k in range(min(n, N_TARGETS)) if k % 4 in (0, 3)}
        )
        assert agg["inlinks"] == want_inlinks, (agg["inlinks"], want_inlinks)
        assert agg["targets"] == want_targets, (agg["targets"], want_targets)

        h.progress(report["tiers"], str(n), {
            "pages": n,
            "wall_s": t.s,
            "pages_per_s": round(n / t.s, 0),
            "followed_inlinks": int(agg["inlinks"]),
            "distinct_targets": int(agg["targets"]),
        })

    h.write_report("page_rep_scalebench", {"page_rep": report},
                   artifact="CRAWL_SCALEBENCH.json")


if __name__ == "__main__":
    main()
