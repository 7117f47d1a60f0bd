#!/usr/bin/env python3
"""Self-test of the output checks: a hand-built snapshot passes, and
each corruption of it fails the check meant to catch it.

    python3 perfbench/selftest.py

Needs no Spark session; it writes small parquet snapshots under
``.perfbench_work/selftest/`` and exits 0 only if every case behaves.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402

US = checks.US
VC = "vc-AFRICA"


def write_snapshot(path: str, hosts: list[str], edges: list[tuple[str, str]]) -> None:
    """Vcenterserver ``VC``, the given Vspherehost objids, and
    CONTROLLED_BY_VC edges (vCenter uid, host objid)."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "vertices", "Vcenterserver"))
    os.makedirs(os.path.join(path, "vertices", "Vspherehost"))
    edir = os.path.join(path, "edges", "rel_type=CONTROLLED_BY_VC")
    os.makedirs(edir)
    pq.write_table(
        pa.table({"uid": [VC]}), os.path.join(path, "vertices", "Vcenterserver", "part-0.parquet")
    )
    pq.write_table(
        pa.table({"objid": hosts, "managedby": [VC] * len(hosts)}),
        os.path.join(path, "vertices", "Vspherehost", "part-0.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "src_label": ["Vcenterserver"] * len(edges),
                "src_key": [s for s, _ in edges],
                "dst_label": ["Vspherehost"] * len(edges),
                "dst_key": [d + US + VC for _, d in edges],
            }
        ),
        os.path.join(edir, "part-0.parquet"),
    )


def main() -> int:
    base = os.path.join(ROOT, ".perfbench_work", "selftest")
    prev = os.path.join(base, "prev")
    write_snapshot(prev, ["h1", "h2", "h3"], [(VC, "h1"), (VC, "h2"), (VC, "h3")])
    snap = os.path.join(base, "snap")
    gone = {"Vspherehost": {"h3" + US + VC}}
    cases = []

    write_snapshot(snap, ["h1", "h2"], [(VC, "h1"), (VC, "h2")])
    problems, counts = checks.check_snapshot(snap)
    problems += checks.check_refresh(snap, prev, gone, [VC], orphans=1)
    cases.append(("valid snapshot passes", not problems and counts["edges"] == 2, problems))

    write_snapshot(snap, ["h1", "h2", "h2"], [(VC, "h1"), (VC, "h2")])
    problems, _ = checks.check_snapshot(snap)
    cases.append(("duplicate natural key fails", any("duplicate" in p for p in problems), problems))

    write_snapshot(snap, ["h1", "h2"], [(VC, "h1"), (VC, "h2"), (VC, "h9")])
    problems, _ = checks.check_snapshot(snap)
    cases.append(("dangling edge fails", any("dangling" in p for p in problems), problems))

    write_snapshot(snap, ["h1", "h2", "h3"], [(VC, "h1"), (VC, "h2")])
    problems = checks.check_refresh(snap, prev, gone, [VC], orphans=1)
    cases.append(("removed key still published fails", any("still published" in p for p in problems), problems))

    write_snapshot(snap, ["h1", "h2"], [(VC, "h1"), (VC, "h2")])
    problems = checks.check_refresh(snap, prev, gone, [VC], orphans=2)
    cases.append(("wrong orphan count fails", any("orphans" in p for p in problems), problems))

    ok = True
    for name, passed, problems in cases:
        ok &= passed
        print(f"{'ok  ' if passed else 'FAIL'} {name}: {problems}")
    shutil.rmtree(base, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
