"""Scale measurement for the REAL .xlsx ingest path (round-8 VERDICT
missing #1 / Next #2): every prior ingest number used parquet fixture
sheets, while the production input is one RVTools ``.xlsx`` export per
vCenter — per-workbook Python OOXML decode was the suspected
throughput wall for fleet ingestion.

Fixture: N real OOXML workbooks (zip + sharedStrings + 12 sheet XMLs,
written by the dict-interned writer below), each carrying the full
12-sheet sf0.01 synthetic RVTools content (~1.5k VMs / 100 hosts per
vCenter — a realistic single-export size). Tenants get a per-workbook
prefix on the vCenter identity column so files are distinct. Fleet
growth mode = MORE WORKBOOKS (more vCenters), the multi-tenant shape
``read_xlsx_many``'s docstring claims to serve.

Measured per workbook count N in {1, 10, 100}:

- ``per_sheet_reader_s``: all 12 sheets via ``read_xlsx_many`` — 12
  binaryFile scans, 12 zip parses PER WORKBOOK (the pre-round-9 API).
- ``single_pass_reader_s``: all 12 sheets via ``read_xlsx_many_all`` —
  one scan, ONE parse per workbook (the round-9 fleet API).
- ``parquet_scan_s``: the same rows from parquet sheet files — the
  lakehouse-landing baseline the decode cost is judged against.
- ``rows_decoded`` and rows/s for each.
- at 1x: an END-TO-END xlsx-sourced refresh (decode -> pin -> full
  2-pass run_ingest + publish) proving the path composes; ingest
  growth BY VOLUME is already measured in INGEST_SCALEBENCH.json's
  ``scales`` section (decode is workbook-count-bound and
  embarrassingly parallel, so fleet ingest cost = decode here +
  per-tenant refresh there).

The committed 100-workbook tier was measured at the engine's old 12g default
heap; set SPARK_DRIVER_MEM=12g to reproduce it.

Usage: python tools/xlsx_scalebench.py [out_json] [counts...]
"""

from __future__ import annotations

import os
import shutil
import sys
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

FLEET = "/tmp/vgs_xlsx_fleet"
SHEET_PARQUET = "/tmp/vgs_xlsx_parquet"
SRC_SF = "/root/testdata/sf0.01"


def _col_letter(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(ord("A") + r) + s
    return s


def write_xlsx(path: str, sheets: dict[str, tuple[list[str], list[list]]]) -> None:
    """Real-OOXML workbook writer: workbook.xml + rels + a dict-interned
    sharedStrings table + one sheetN.xml per sheet. Every cell is a
    shared string (RVTools exports are overwhelmingly strings), so the
    reader exercises its sst path; None cells are SKIPPED (sparse rows
    with A1 refs), exercising the re-alignment path."""
    shared: dict[str, int] = {}

    def sid(v: str) -> int:
        i = shared.get(v)
        if i is None:
            i = len(shared)
            shared[v] = i
        return i

    from xml.sax.saxutils import escape

    sheet_xmls = {}
    for idx, (name, (header, rows)) in enumerate(sheets.items(), start=1):
        parts = ['<?xml version="1.0"?><worksheet xmlns='
                 '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                 "<sheetData>"]
        for ri, row in enumerate([header, *rows], start=1):
            cells = []
            for ci, v in enumerate(row):
                if v is None:
                    continue
                cells.append(
                    f'<c r="{_col_letter(ci)}{ri}" t="s"><v>{sid(str(v))}</v></c>'
                )
            parts.append(f'<row r="{ri}">{"".join(cells)}</row>')
        parts.append("</sheetData></worksheet>")
        sheet_xmls[f"xl/worksheets/sheet{idx}.xml"] = "".join(parts)

    wb_sheets = "".join(
        f'<sheet name="{n}" sheetId="{i}" r:id="rId{i}"/>'
        for i, n in enumerate(sheets, start=1)
    )
    rels = "".join(
        f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" '
        f'Target="worksheets/sheet{i}.xml"/>'
        for i in range(1, len(sheets) + 1)
    )
    by_id = sorted(shared, key=shared.get)
    sst = "".join(f"<si><t>{escape(s)}</t></si>" for s in by_id)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/'
            f'officeDocument/2006/relationships"><sheets>{wb_sheets}</sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.'
            f'org/package/2006/relationships">{rels}</Relationships>',
        )
        zf.writestr(
            "xl/sharedStrings.xml",
            '<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/'
            f'spreadsheetml/2006/main">{sst}</sst>',
        )
        for member, xml in sheet_xmls.items():
            zf.writestr(member, xml)


def build_fleet(spark, n_books: int) -> dict[str, list[str]]:
    """Collect the sf0.01 12-sheet synthetic workbook once, then write
    ``n_books`` real .xlsx files (tenant-prefixed vCenter identity so
    files are distinct). Returns {sheet: columns} for the readers."""
    from vmware_graph_spark.queries import _workbook

    if os.path.isdir(FLEET):
        shutil.rmtree(FLEET)
    os.makedirs(FLEET, exist_ok=True)

    sheets_df = _workbook(spark, SRC_SF)
    collected: dict[str, tuple[list[str], list[list]]] = {}
    columns: dict[str, list[str]] = {}
    for name, df in sheets_df.items():
        header = df.columns
        rows = [[None if v is None else str(v) for v in r] for r in df.collect()]
        collected[name] = (list(header), rows)
        columns[name] = list(header)

    # Tenant-identity columns: the vCenter identity ("VI SDK *" — every
    # node key embedding `managedby` becomes tenant-disjoint through
    # it) AND "VM UUID" (in reality globally unique per VM; the
    # vmuuid-keyed labels — Vmadapter/Vpartition/Vsnapshot — key on it
    # directly). Labels the reference keys GLOBALLY by name/path
    # (Vfolder, Vmos, Cpumodel, Ntpserver…) stay shared across
    # tenants — that is the reference's own key choice, not a fixture
    # artifact.
    vc_cols = {
        name: [
            i
            for i, h in enumerate(cols[0])
            if "VI SDK" in h or h == "VM UUID"
        ]
        for name, cols in ((n, collected[n]) for n in collected)
    }
    for t in range(n_books):
        tagged = {}
        for name, (header, rows) in collected.items():
            idxs = vc_cols[name]
            if t == 0 or not idxs:
                tagged[name] = (header, rows)
                continue
            out_rows = [list(r) for r in rows]
            for r in out_rows:
                for i in idxs:
                    if r[i] is not None:
                        r[i] = f"t{t:03d}~{r[i]}"
            tagged[name] = (header, out_rows)
        write_xlsx(os.path.join(FLEET, f"rvtools_{t:03d}.xlsx"), tagged)

    # parquet baseline: the same rows landed columnar, one dir per sheet,
    # tenant-replicated to the same total row count
    if os.path.isdir(SHEET_PARQUET):
        shutil.rmtree(SHEET_PARQUET)
    os.makedirs(SHEET_PARQUET, exist_ok=True)
    from pyspark.sql import functions as F

    for name, df in sheets_df.items():
        h.shifted_copies(
            df, range(n_books), _workbook=lambda t: F.lit(f"rvtools_{t:03d}")
        ).write.mode("overwrite").parquet(os.path.join(SHEET_PARQUET, f"{name}.parquet"))
    return columns


def main() -> None:
    words, counts = h.cli([1, 10, 100])

    from vmware_graph_spark.sources.workbook import (
        SHEETS,
        fleet_sheet,
        read_xlsx_many,
        read_xlsx_many_all,
    )

    spark = h.spark("xlsx-scalebench")

    report: dict = {"load_1m_at_start": round(os.getloadavg()[0], 2), "counts": {}}
    for n in counts:
        with h.timed(1) as t:
            columns = build_fleet(spark, n)
        build_s = t.s
        glob = f"{FLEET}/*.xlsx"

        with h.timed() as t:
            total_rows = 0
            for sheet in SHEETS:
                df = read_xlsx_many(spark, glob, sheet, tuple(columns[sheet]))
                total_rows += df.count()
        per_sheet_s = t.s

        with h.timed() as t:
            decoded = read_xlsx_many_all(spark, glob)
            single_rows = decoded.count()
        single_pass_s = t.s

        with h.timed() as t:
            pq_rows = 0
            for sheet in SHEETS:
                pq_rows += spark.read.parquet(
                    os.path.join(SHEET_PARQUET, f"{sheet}.parquet")
                ).count()
        parquet_s = t.s

        entry = {
            "build_fleet_s": build_s,
            "rows_decoded": total_rows,
            "per_sheet_reader_s": per_sheet_s,
            "single_pass_reader_s": single_pass_s,
            "single_pass_rows": single_rows,
            "parquet_scan_s": parquet_s,
            "parquet_rows": pq_rows,
            "per_sheet_rows_per_s": round(total_rows / per_sheet_s, 0),
            "single_pass_rows_per_s": round(single_rows / single_pass_s, 0),
        }

        if n in (1, 10, 100):
            # end-to-end: decode the real workbook fleet, pin the
            # sheets, run the full build + publish — the composed
            # path. At n=10 this is a genuine MULTI-TENANT estate:
            # each workbook's "VI SDK" identity is tenant-prefixed and
            # every node label's natural key embeds the vCenter uid,
            # so 10 books must build ~10x the per-label entities
            # (global dimension labels stay shared).
            from vmware_graph_spark.ingest.refresh import run_ingest

            with h.timed(1) as t:
                decoded = read_xlsx_many_all(spark, glob).localCheckpoint(eager=True)
                sheets = {
                    s: fleet_sheet(decoded, s, tuple(columns[s])) for s in SHEETS
                }
                snap = "/tmp/vgs_xlsx_snap"
                if os.path.isdir(snap):
                    shutil.rmtree(snap)
                store = run_ingest(spark, sheets)
                store.publish(snap)
            entry["xlsx_sourced_cold_build_s"] = t.s
            from vmware_graph_spark.store.graph import GraphStore

            counts_d = GraphStore.read(spark, snap).counts()
            entry["xlsx_sourced_nodes"] = sum(
                v for k, v in counts_d.items() if k != "edges"
            )
            entry["xlsx_sourced_edges"] = counts_d.get("edges", 0)

        h.progress(report["counts"], f"{n}", entry)

    h.write_report("xlsx_scalebench", report, words[0] if words else None)


if __name__ == "__main__":
    main()
