"""Scale rows for the ext26 page-structure family (round-12): (a) the
structural boilerplate chain — in-engine pages → ``html_blocks`` →
per-block link-density/length features → ``classify_block`` → global
content totals — at 1x/10x page volume, and (b) host-graph authority —
pages → ``extract_links`` → ``resolve_href``/``url_host`` → HOST-grain
edge contraction → 4-round integer-fixpoint weighted PageRank over
100k hosts.

Pages are generated IN-ENGINE (Catalyst concat over ``spark.range`` —
no driver bytes) with the registry fixture's arithmetic, so every
measured total is exactly derivable and asserted per tier (the
crawl_scalebench discipline): block counts and content chars from
``id % 9``, and the PageRank result compared value-for-value against a
pure-Python integer replica of the CONTRACTED host graph — the page
count is chosen a multiple of 3·H so per-class edge weights are exact
closed forms (w1 = n/H, w2 = n/(3H)).

The ordering claim this measures: extraction runs at the PAGE grain
(linear, codegen), iteration at the HOST grain (the graph the fixpoint
shuffles is pages/hosts-times smaller) — the only sane order at 100 TB.

Sets the ``boilerplate`` and ``host_authority`` sections of
CRAWL_SCALEBENCH.json with --merge, else writes them to
/tmp/boilerplate_scalebench.json.

Usage: python tools/boilerplate_scalebench.py [--merge] [n_pages...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

#: fixed prose for the content block: 38 chars, no specials.
CONTENT_TEXT = "lorem ipsum dolor sit amet consectetur"

N_HOSTS = 100_000


def _expected_block_totals(n: int) -> tuple[int, int, int]:
    """(n_blocks, n_content, content_chars) over pages id=0..n-1 with
    the registry fixture arithmetic (m = id % 9; mixed block is
    content iff m >= 2, contributing 15+4m chars; the prose block is
    always content at len(CONTENT_TEXT) >= 20)."""
    full, rem = divmod(n, 9)
    m_counts = {m: full + (1 if m < rem else 0) for m in range(9)}
    n_blocks = 5 * n
    n_content = n + sum(c for m, c in m_counts.items() if m >= 2)
    content_chars = n * len(CONTENT_TEXT) + sum(
        (15 + 4 * m) * c for m, c in m_counts.items() if m >= 2
    )
    return n_blocks, n_content, content_chars


def weighted_pagerank_int_reference(
    edges: dict, *, iters: int = 4, scale: int = 1_000_000, damping: int = 85
) -> dict:
    """Pure-Python integer replica of
    ``analytics.algos.pagerank_weighted_fixed`` over explicit
    ``{(src, dst): weight}`` edges: per-edge ``(rank·w) // out_w``
    floor contributions, dangling mass redistributed uniformly. The
    ONE canonical reference — tests/test_ext26.py and this tool both
    import it and differ only in how they build the edge dict."""
    from collections import defaultdict

    verts = sorted({s for s, _ in edges} | {t for _, t in edges})
    out_w: dict = defaultdict(int)
    for (s, _), w in edges.items():
        out_w[s] += w
    nv = len(verts)
    base = (100 - damping) * scale // 100
    rank = {v: scale for v in verts}
    for _ in range(iters):
        dangling = sum(rank[v] for v in verts if v not in out_w)
        in_sum: dict = defaultdict(int)
        for (s, t), w in edges.items():
            in_sum[t] += (rank[s] * w) // out_w[s]
        rank = {
            v: base + (damping * (in_sum[v] + dangling // nv)) // 100
            for v in verts
        }
    return rank


def _host_pagerank_reference(n: int, h: int, iters: int = 4) -> tuple[dict, int]:
    """(ranks-by-hostname, distinct-edge count) for the closed-form
    contracted host graph the n % (3h) == 0 choice guarantees
    (w1 = n/h, w2 = n/(3h); the k ≡ 4 (mod h/2) target collisions
    merge the two classes into one weighted edge)."""
    assert n % (3 * h) == 0
    w1, w2 = n // h, n // (3 * h)
    edges: dict = {}
    for k in range(h):
        t1, t2 = (7 * k + 3) % h, (5 * k + 11) % h
        if t1 != k:
            edges[(k, t1)] = edges.get((k, t1), 0) + w1
        if t2 != k:
            edges[(k, t2)] = edges.get((k, t2), 0) + w2
    rank = weighted_pagerank_int_reference(edges, iters=iters)
    return {f"site{v}.example.com": r for v, r in rank.items()}, len(edges)


def main() -> None:
    from pyspark.sql import functions as F

    from vmware_graph_spark.analytics.algos import pagerank_weighted_fixed
    from vmware_graph_spark.functions.text import (
        anchor_text_chars,
        classify_block,
        html_blocks,
        html_to_text,
    )
    from vmware_graph_spark.functions.url import (
        extract_links,
        resolve_href,
        url_host,
        url_scheme,
    )

    _words, tiers = h.cli([200_000, 2_000_000])
    load_at_start = round(os.getloadavg()[0], 2)
    spark = h.spark("boilerplate-scalebench")

    report: dict = {"load_1m_at_start": load_at_start, "tiers": {}}

    # ---- (a) boilerplate chain at page volume -------------------------
    # the page template is the registry fixture's own builder (shared,
    # not copied — template drift would silently decouple the asserted
    # arithmetic below from what the registry oracle pins)
    from vmware_graph_spark.queries_ext26 import _fixture_page_html

    for n in tiers:
        pages = (
            spark.range(n)
            .select(F.col("id").alias("doc_id"))
            .select(_fixture_page_html(text=F.lit(CONTENT_TEXT)).alias("html"))
        )

        with h.timed() as t:
            blocks = pages.select(F.explode(html_blocks("html")).alias("frag")).select(
                F.length(html_to_text("frag")).alias("bn"),
                anchor_text_chars("frag").alias("a"),
            ).filter(F.col("bn") > 0)
            cls = blocks.withColumn("cls", classify_block(F.col("bn"), F.col("a")))
            agg = cls.agg(
                F.count("*").alias("blocks"),
                F.sum((F.col("cls") == "content").cast("long")).alias("content"),
                F.sum(
                    F.when(F.col("cls") == "content", F.col("bn")).otherwise(F.lit(0))
                ).alias("content_chars"),
            ).collect()[0]

        want_blocks, want_content, want_chars = _expected_block_totals(n)
        assert agg["blocks"] == want_blocks, (agg["blocks"], want_blocks)
        assert agg["content"] == want_content, (agg["content"], want_content)
        assert agg["content_chars"] == want_chars, (
            agg["content_chars"], want_chars,
        )

        h.progress(report["tiers"], str(n), {
            "pages": n,
            "wall_s": t.s,
            "pages_per_s": round(n / t.s, 0),
            "blocks": int(agg["blocks"]),
            "content_blocks": int(agg["content"]),
        })

    # ---- (b) host authority: page-grain extract, host-grain iterate ---
    n_pages = 1_500_000  # 15 pages/host primary, 5/host secondary
    i = F.col("id")
    k = (i % N_HOSTS).cast("string")
    h1 = ((i * 7 + 3) % N_HOSTS).cast("string")
    h2 = ((i * 5 + 11) % N_HOSTS).cast("string")
    body = F.concat(
        F.lit('<html><body><a href="http://site'), h1,
        F.lit('.example.com/">primary</a>'),
        F.when(
            i % 3 == 0,
            F.concat(
                F.lit('<a href="http://site'), h2,
                F.lit('.example.com/">secondary</a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = spark.range(n_pages).select(
        F.concat(F.lit("http://site"), k, F.lit(".example.com/p/"), i.cast("string"))
        .alias("url"),
        body.alias("html"),
    )

    with h.timed() as t:
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
        edges = edges.persist()
        n_edges = edges.count()
    t_extract = t.s

    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    with h.timed() as rank_t:
        ranks = pagerank_weighted_fixed(vertices, edges, iters=4)
        got = {r["id"]: r["rank_micros"] for r in ranks.collect()}
    edges.unpersist()

    want, want_edges = _host_pagerank_reference(n_pages, N_HOSTS)
    assert len(got) == N_HOSTS, (len(got), N_HOSTS)
    # 2H minus the k ≡ 4 (mod H/2) collisions where both targets
    # coincide and the two classes contract into one weighted edge
    assert n_edges == want_edges, (n_edges, want_edges)
    mismatch = [host for host in want if got.get(host) != want[host]]
    assert not mismatch, (len(mismatch), mismatch[:3])

    h.progress(report, "host_authority", {
        "pages": n_pages,
        "hosts": N_HOSTS,
        "edges": int(n_edges),
        "extract_contract_wall_s": t_extract,
        "pagerank4_wall_s": rank_t.s,
        "pages_per_s_extract": round(n_pages / t_extract, 0),
        "rank_exact_vs_reference": True,
    })

    host_authority = report.pop("host_authority")
    h.write_report(
        "boilerplate_scalebench",
        {"boilerplate": report, "host_authority": host_authority},
        artifact="CRAWL_SCALEBENCH.json",
    )


if __name__ == "__main__":
    main()
