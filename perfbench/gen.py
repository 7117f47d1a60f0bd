"""Seeded inputs for the refresh-cycle benchmark.

Two layers of input:

* A *template* export A: TPC-H-shaped base tables (region,
  nation, supplier, customer, orders) drawn from a fixed RNG, turned
  into the 12-sheet RVTools workbook by ``queries._workbook`` (the same
  derivation the engine's fixtures and oracle queries use). It does not
  depend on the run seed, so it is derived once per checkout and cached
  as gzipped JSON rows.
* The refreshed export A' for one seed: A minus the hosts, VMs and
  disks the seed picks, removed consistently from every sheet that
  carries them. Seed 0 is the default delta and reproduces
  ``queries._workbook(prime=True)``: every 10th host, every 13th VM and
  every 17th disk leave. Seed ``s`` removes hosts with ``sk % 10 ==
  s % 10``, VMs with ``ck % 13 == s % 13`` and disks with ``ok % 17 ==
  s % 17``.

The engine only ever sees the generated files: a per-sheet parquet
workbook directory written by :func:`write_parquet_dir`.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import shutil

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
TEMPLATE_SEED = 20140901

# TPC-H row counts at scale factor 1; a scale ``sf`` multiplies them.
BASE_ROWS = {"supplier": 10_000, "customer": 150_000, "orders": 1_500_000}


def delta(seed: int) -> dict[str, int]:
    """The residues of the hosts (sk), VMs (ck) and disks (ok) that
    leave in A' for ``seed``."""
    return {"host": seed % 10, "vm": seed % 13, "disk": seed % 17}


def write_base_tables(out_dir: str, sf: float) -> None:
    """TPC-H-shaped base tables with the columns the workbook derivation
    reads. Foreign keys come from a fixed RNG, so every checkout
    derives the same template."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(TEMPLATE_SEED)
    n_supp = max(1, round(BASE_ROWS["supplier"] * sf))
    n_cust = max(1, round(BASE_ROWS["customer"] * sf))
    n_ord = max(1, round(BASE_ROWS["orders"] * sf))
    tables = {
        "region": {
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": list(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
            "n_regionkey": pa.array([i % len(REGIONS) for i in range(N_NATIONS)], pa.int32()),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(
                [rng.randrange(N_NATIONS) for _ in range(n_supp)], pa.int32()
            ),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(
                [rng.randrange(N_NATIONS) for _ in range(n_cust)], pa.int32()
            ),
        },
        "orders": {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def derive_template(spark, base_dir: str, out_path: str) -> None:
    """Derive workbook A from the base tables and store its rows as
    gzipped JSON: ``{sheet: {"header": [...], "rows": [[...], ...]}}``.
    Every cell is kept as the string an RVTools export would carry."""
    from vmware_graph_spark import queries

    book = {}
    for sheet, df in queries._workbook(spark, base_dir, prime=False).items():
        rows = [[None if v is None else str(v) for v in r] for r in df.collect()]
        rows.sort(key=lambda r: [(v is None, v or "") for v in r])
        book[sheet] = {"header": list(df.columns), "rows": rows}
    _write_json_gz(out_path, book)


def _write_json_gz(path: str, obj) -> None:
    tmp = path + ".tmp"
    with gzip.GzipFile(tmp, "wb", mtime=0) as f:
        f.write(json.dumps(obj, sort_keys=True).encode())
    os.replace(tmp, path)


def load_template(path: str) -> dict:
    with gzip.open(path, "rb") as f:
        return json.loads(f.read())


def _num(s: str, prefix: str) -> int:
    return int(s[len(prefix):])


def apply_delta(book: dict, seed: int) -> dict:
    """A' for ``seed``: the template minus the seed's hosts (vHost),
    VMs (vInfo) and disks (vDisk). The other sheets are unchanged, as in
    ``queries._workbook(prime=True)``."""
    d = delta(seed)
    keep = {
        "vHost": ("Object ID", lambda v: _num(v, "host-") % 10 != d["host"]),
        "vInfo": ("VM UUID", lambda v: _num(v, "vm-") % 13 != d["vm"]),
        "vDisk": ("Path", lambda v: _disk_ok(v) % 17 != d["disk"]),
    }
    out = {}
    for sheet, body in book.items():
        if sheet not in keep:
            out[sheet] = body
            continue
        col, pred = keep[sheet]
        i = body["header"].index(col)
        out[sheet] = {
            "header": body["header"],
            "rows": [r for r in body["rows"] if pred(r[i])],
        }
    return out


def _disk_ok(path: str) -> int:
    """Order key of a vDisk Path: ``[ds-X] vm<ok>/vm.vmdk`` or
    ``vm<ok>/flat.vmdk``."""
    tail = path.rsplit("] ", 1)[-1]
    return int(tail[2 : tail.index("/")])


def removed_keys(book: dict, seed: int) -> dict[str, set[str]]:
    """Natural keys (engine key string: parts joined by U+001F) of the
    hosts and VMs that leave in A' for ``seed``."""
    us = "\x1f"
    d = delta(seed)
    out: dict[str, set[str]] = {"Vspherehost": set(), "Virtualmachine": set()}
    h = book["vHost"]
    io, iu = h["header"].index("Object ID"), h["header"].index("VI SDK UUID")
    for r in h["rows"]:
        if _num(r[io], "host-") % 10 == d["host"]:
            out["Vspherehost"].add(r[io] + us + r[iu])
    v = book["vInfo"]
    iv, iu = v["header"].index("VM UUID"), v["header"].index("VI SDK UUID")
    for r in v["rows"]:
        if _num(r[iv], "vm-") % 13 == d["vm"]:
            out["Virtualmachine"].add(r[iv] + us + r[iu])
    return out


def write_parquet_dir(out_dir: str, book: dict) -> None:
    """Per-sheet parquet workbook directory, one file per sheet, every
    column a string (the ``apoc.load.xls`` value model)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for sheet, body in book.items():
        cols = list(zip(*body["rows"])) or [()] * len(body["header"])
        table = pa.table(
            {h: pa.array(c, pa.string()) for h, c in zip(body["header"], cols)}
        )
        pq.write_table(table, os.path.join(tmp, f"{sheet}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def book_rows(book: dict) -> int:
    return sum(len(b["rows"]) for b in book.values())
