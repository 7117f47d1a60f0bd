"""Scale measurement for the robots gate's SIZE-GATED join strategy
(round-10 VERDICT #1): below ROBOTS_BROADCAST_MAX_RULES the per-host
rules table broadcasts (zero frontier shuffle); above it the gate
falls back to a shuffle-hash join on host. This tool proves both
regimes at host counts the weak-list flag was about:

- 100k hosts (broadcast regime): the measured-tier fast path;
- 1M hosts (broadcast regime, ~2.1M rule rows): ALSO re-run with the
  fallback FORCED (broadcast_max_rules=0) and every (host, path)
  verdict compared — a full-join disagreement count, asserted 0, so
  regime parity is executed, not prose;
- 10M hosts (~21.4M rule rows > the 4M-row gate): the fallback
  EXECUTES BY DEFAULT — the configuration that previously forced a
  multi-GB broadcast. Correctness at this tier is an exact
  arithmetic check: the allowed-count is derived independently in
  DuckDB integer arithmetic from the fixture's residue classes.

Fixture (all in-engine, spark.range — no driver-side rows): host i
carries Disallow /private/, Allow /private/ok, and every 7th host a
wildcard Disallow /*.zip$; URL j lands on host j % n_hosts with a
path from four residue classes (no-match allow, literal disallow,
longer-literal allow override, wildcard-anchor disallow on 7th
hosts) — so longest-match, tie-break, wildcard and rule-free
resolution all execute at every tier.

Sets the ``robots_gate`` section of CRAWL_SCALEBENCH.json with
--merge, else writes it to /tmp/robots_scalebench.json.

The committed 10M-host tier was measured at the engine's old 12g default
heap; set SPARK_DRIVER_MEM=12g to reproduce it.

Usage: python tools/robots_scalebench.py [--merge] [host_counts...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402


def main() -> None:
    import duckdb
    from pyspark.sql import functions as F

    from vmware_graph_spark.operators.crawl import (
        ROBOTS_BROADCAST_MAX_RULES,
        robots_filter,
    )

    _words, tiers = h.cli([100_000, 1_000_000, 10_000_000])
    spark = h.spark("robots-scalebench")

    def fixture(n_hosts: int, n_urls: int):
        hosts = spark.range(n_hosts).select(
            F.concat(F.lit("h"), F.col("id")).alias("host"),
            F.col("id").alias("hid"),
        )
        rules = (
            hosts.select(
                "host",
                F.lit("/private/").alias("path_prefix"),
                F.lit(False).alias("allow"),
            )
            .unionAll(
                hosts.select(
                    "host", F.lit("/private/ok").alias("path_prefix"),
                    F.lit(True).alias("allow"),
                )
            )
            .unionAll(
                hosts.filter(F.col("hid") % 7 == 0).select(
                    "host", F.lit("/*.zip$").alias("path_prefix"),
                    F.lit(False).alias("allow"),
                )
            )
        )
        n_rules = 2 * n_hosts + (n_hosts + 6) // 7
        j = F.col("id")
        urls = spark.range(n_urls).select(
            F.concat(F.lit("h"), (j % n_hosts).cast("string")).alias("host"),
            F.when(j % 4 == 0, F.concat(F.lit("/a/"), j.cast("string")))
            .when(j % 4 == 1, F.concat(F.lit("/private/x"), j.cast("string")))
            .when(j % 4 == 2, F.concat(F.lit("/private/ok"), j.cast("string")))
            .otherwise(F.concat(F.lit("/files/f"), j.cast("string"), F.lit(".zip")))
            .alias("path"),
        )
        return rules, n_rules, urls

    def expected_allowed(n_hosts: int, n_urls: int) -> int:
        # exact integer oracle, independent engine: class 0 and 2 allow,
        # class 1 disallows, class 3 disallows only on every-7th hosts.
        return duckdb.sql(
            f"SELECT count(*) FROM range({n_urls}) t(i) "
            "WHERE i % 4 = 0 OR i % 4 = 2 "
            f"   OR (i % 4 = 3 AND (i % {n_hosts}) % 7 <> 0)"
        ).fetchone()[0]

    def join_node(df) -> str:
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "ShuffledHashJoin" in plan:
            return "shuffle_hash"
        if "BroadcastHashJoin" in plan:
            return "broadcast"
        return "other"

    report: dict = {
        "load_1m_at_start": round(os.getloadavg()[0], 2),
        "broadcast_max_rules": ROBOTS_BROADCAST_MAX_RULES,
        "tiers": {},
    }
    for n_hosts in tiers:
        n_urls = max(n_hosts, 2_000_000)
        rules, n_rules, urls = fixture(n_hosts, n_urls)

        with h.timed() as gate:
            out = robots_filter(urls, rules, rules_rows=n_rules)
            allowed = out.filter(F.col("fetch_allowed")).count()
        want = expected_allowed(n_hosts, n_urls)
        assert allowed == want, (n_hosts, allowed, want)

        entry = {
            "hosts": n_hosts,
            "rule_rows": n_rules,
            "frontier_urls": n_urls,
            "regime": join_node(out),
            "gate_s": gate.s,
            "urls_per_s": round(n_urls / gate.s, 0),
            "allowed": allowed,
            "allowed_expected": want,
        }
        expected_regime = (
            "broadcast" if n_rules <= ROBOTS_BROADCAST_MAX_RULES else "shuffle_hash"
        )
        assert entry["regime"] == expected_regime, (entry["regime"], expected_regime)

        if n_hosts == 1_000_000:
            # regime parity, executed: force the fallback on the SAME
            # fixture and count (host, path) verdict disagreements.
            with h.timed() as forced_t:
                forced = robots_filter(
                    urls, rules, rules_rows=n_rules, broadcast_max_rules=0
                )
                assert join_node(forced) == "shuffle_hash"
                disagree = (
                    out.withColumnRenamed("fetch_allowed", "a")
                    .join(
                        forced.withColumnRenamed("fetch_allowed", "b"),
                        ["host", "path"],
                        "full",
                    )
                    .filter(
                        F.col("a").isNull()
                        | F.col("b").isNull()
                        | (F.col("a") != F.col("b"))
                    )
                    .count()
                )
            entry["forced_fallback_s"] = forced_t.s
            entry["verdict_disagreements_vs_broadcast"] = disagree
            assert disagree == 0, disagree

            # the COUNT-OFF-PERSIST path (round-12, verdict #6): omit
            # rules_rows — the operator persists the per-host aggregate
            # and counts input rows off it (the parse lineage runs
            # once). Same verdict total, and the wall records what the
            # self-counting gate costs at 1M hosts / 2.1M rules.
            with h.timed() as sc:
                self_counted = robots_filter(urls, rules)
                allowed_sc = self_counted.filter(F.col("fetch_allowed")).count()
            entry["self_counted_gate_s"] = sc.s
            entry["self_counted_allowed"] = allowed_sc
            assert allowed_sc == want, (allowed_sc, want)
            spark.catalog.clearCache()  # drop the operator's persist

        h.progress(report["tiers"], str(n_hosts), entry)

    h.write_report("robots_scalebench", {"robots_gate": report},
                   artifact="CRAWL_SCALEBENCH.json")


if __name__ == "__main__":
    main()
