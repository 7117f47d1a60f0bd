"""Scale measurement for the WET conversion SINK (round-10 VERDICT
#5): ``write_wet`` was correctness-pinned (`wet_conversion_roundtrip`)
but never measured — and re-sharding extracted text into WET archives
is a real crawl-prep cost at 100 TB.

Tiers: 1x/10x/100x RECORDS (sf0.1 documents ≈ 50k rows as the 1x
unit; tenant-shifted copies keep URIs distinct), written BOTH plain
and per-member-gzipped (the Common Crawl layout) from the executors
(one ``.warc.wet[.gz]`` file per partition; the driver never touches
record bytes). Each tier asserts the ROUNDTRIP, not just the wall:
the sink's files are read back through ``read_warc(types=
('conversion',))`` and full-joined against the source on URI with an
md5(text) comparison — 0 mismatches required — so the measured
records/s double as at-scale correctness checks (the crawl_scalebench
discipline).

Sets the ``wet_sink`` section of CRAWL_SCALEBENCH.json with --merge,
else writes it to /tmp/wet_scalebench.json.

The committed 100x tier was measured at the engine's old 12g default
heap; set SPARK_DRIVER_MEM=12g to reproduce it.

Usage: python tools/wet_scalebench.py [--merge] [copies...]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

SRC_SF = os.environ.get("WET_SRC_SF", "/root/testdata/sf0.1")
OUT = "/tmp/vgs_wet_sink"


def main() -> None:
    from pyspark.sql import functions as F

    from vmware_graph_spark.sources.warc import read_warc, write_wet

    _words, copies = h.cli([1, 10, 100])
    spark = h.spark("wet-scalebench")

    base = spark.read.parquet(f"{SRC_SF}/documents.parquet").select("doc_id", "text")

    report: dict = {
        "load_1m_at_start": round(os.getloadavg()[0], 2),
        "tiers": {},
    }
    for n in copies:
        src = base.select(
            F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("c"),
            "doc_id",
            "text",
        ).select(
            F.concat(
                F.lit("http://www.site"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".example.com/a/"),
                (F.col("doc_id") + F.col("c") * 10_000_000).cast("string"),
            ).alias("uri"),
            F.col("text"),
        )
        # the sink's job IS re-sharding extracted text — route the
        # exploded rows through an explicit repartition so every tier
        # writes the distributed shape (one file per partition from
        # its executor), not one giant task off a single parquet split.
        src = src.repartition(32)
        n_records = src.count()

        entry: dict = {"records": n_records}
        for gz, tag in ((False, "plain"), (True, "gz")):
            out_dir = os.path.join(OUT, tag)
            if os.path.isdir(out_dir):
                shutil.rmtree(out_dir)
            with h.timed() as write:
                written = write_wet(src, out_dir, gzip_members=gz)
            assert written == n_records, (written, n_records)
            out_bytes = h.du_bytes(out_dir)

            # roundtrip decisions at THIS tier: read the sink's files
            # back and md5-compare every record's text against the
            # source by URI (full join; 0 mismatches).
            glob = os.path.join(out_dir, f"*.warc.wet{'.gz' if gz else ''}")
            with h.timed() as verify:
                back = read_warc(spark, glob, types=("conversion",)).select(
                    F.col("uri"), F.md5(F.col("body").cast("string")).alias("h_back")
                )
                mismatches = (
                    src.select("uri", F.md5("text").alias("h_src"))
                    .join(back, "uri", "full")
                    .filter(
                        F.col("h_src").isNull()
                        | F.col("h_back").isNull()
                        | (F.col("h_src") != F.col("h_back"))
                    )
                    .count()
                )
            assert mismatches == 0, (tag, n, mismatches)

            entry[tag] = {
                "write_s": write.s,
                "records_per_s": round(n_records / write.s, 0),
                "bytes": out_bytes,
                "mb_per_s": round(out_bytes / write.s / 1e6, 1),
                "files": len(os.listdir(out_dir)),
                "roundtrip_verify_s": verify.s,
                "roundtrip_mismatches": mismatches,
            }
        entry["gz_compression"] = round(
            entry["plain"]["bytes"] / entry["gz"]["bytes"], 2
        )
        h.progress(report["tiers"], str(n), entry)

    shutil.rmtree(OUT, ignore_errors=True)
    h.write_report("wet_scalebench", {"wet_sink": report},
                   artifact="CRAWL_SCALEBENCH.json")


if __name__ == "__main__":
    main()
