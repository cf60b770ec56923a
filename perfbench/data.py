"""Seeded input data for the served-path benchmark.

Every table is generated from the run's seed with NumPy and written as
parquet under the checkout's build directory, so the program under
test reads only files this module made. The shapes follow the
reference's headline datasets: a TPC-H-like star (``lineitem``,
``orders``, ``customer``) at about scale factor 0.1, and a
github_events-like ``events`` table.

The 10x (sf1) data the bulk workload scans is derived from the sf0.1
tables by seeded key-offset replication: copy ``i`` of ``lineitem`` shifts every order key by
``i * KEY_STRIDE`` and lands in its own parquet file, so the derived
table is 10x the base in rows and files while every key stays unique.
The taxi-shaped gzip ``CSVWithNames`` copy is written beside it.
Each derivation checks its own row counts before it is used.
"""

from __future__ import annotations

import gzip
import io
import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

KEY_STRIDE = 10_000_000  # order-key offset between replicated copies
REPLICAS = 10
TAXI_FILES = 4
TAXI_ROWS_PER_FILE = 60_000
TAXI_SCHEMA = (
    "vendor_id UInt8, pickup_day Date, passenger_count UInt8, "
    "trip_distance Float64, fare_amount Float64, payment_type String"
)

EVENT_TYPES = [
    "PushEvent", "WatchEvent", "IssuesEvent", "PullRequestEvent",
    "ForkEvent", "CreateEvent", "DeleteEvent", "IssueCommentEvent",
    "ReleaseEvent", "GollumEvent",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
DAY0 = np.datetime64("1992-01-01")
N_DAYS = 2400


def _days(rng: np.random.Generator, n: int, lo: int = 0,
          hi: int = N_DAYS) -> np.ndarray:
    return DAY0 + rng.integers(lo, hi, n).astype("timedelta64[D]")


def _pick(rng: np.random.Generator, pool: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(pool), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(pool)
    ).cast(pa.string())


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def base_tables(rng: np.random.Generator) -> dict:
    """The sf0.1-shaped tables as Arrow tables."""
    n_cust = 15_000
    n_ord = 150_000
    customer = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    okeys = np.arange(1, n_ord + 1, dtype=np.int64)
    odate = _days(rng, n_ord, 0, N_DAYS - 130)
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.date32()),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        "o_shippriority": np.zeros(n_ord, dtype=np.int32),
    })
    per_order = rng.integers(1, 8, n_ord)
    n_line = int(per_order.sum())
    l_okey = np.repeat(okeys, per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_num = (np.arange(n_line) - starts + 1).astype(np.int32)
    ship = np.repeat(odate, per_order) + rng.integers(
        1, 122, n_line
    ).astype("timedelta64[D]")
    qty = rng.integers(1, 51, n_line).astype(np.int64)
    lineitem = pa.table({
        "l_orderkey": l_okey,
        "l_partkey": rng.integers(1, 20_001, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1_001, n_line, dtype=np.int64),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(
            qty * rng.uniform(900.0, 2000.0, n_line), 2
        ),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(ship, pa.date32()),
        "l_shipmode": _pick(rng, SHIPMODES, n_line),
    })
    n_ev = 300_000
    ts = np.datetime64("2023-01-01T00:00:00", "us") + rng.integers(
        0, 365 * 86_400, n_ev
    ).astype("timedelta64[s]").astype("timedelta64[us]")
    events = pa.table({
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "repo_id": rng.zipf(1.6, n_ev).clip(1, 50_000).astype(np.int64),
        "actor_id": rng.integers(1, 40_001, n_ev, dtype=np.int64),
        "commits": rng.integers(0, 21, n_ev, dtype=np.int64),
        "created_at": pa.array(ts, pa.timestamp("us")),
    })
    return {"customer": customer, "orders": orders,
            "lineitem": lineitem, "events": events}


def _replicate_lineitem(base: pa.Table, rng: np.random.Generator,
                        out_dir: str) -> int:
    """Write REPLICAS key-offset copies, one parquet file each, in a
    seeded file order; returns the rows written."""
    os.makedirs(out_dir, exist_ok=True)
    okey = base.column("l_orderkey").to_numpy()

    def write(slot: int, copy: int) -> int:
        t = base.set_column(
            0, "l_orderkey", pa.array(okey + copy * KEY_STRIDE)
        )
        _write(t, os.path.join(out_dir, f"part-{slot:03d}.parquet"))
        return t.num_rows

    order = [int(c) for c in rng.permutation(REPLICAS)]
    with ThreadPoolExecutor(4) as pool:  # the parquet writer drops the GIL
        return sum(pool.map(write, range(REPLICAS), order))


def _taxi_csv(rng: np.random.Generator, out_dir: str) -> int:
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for i in range(TAXI_FILES):
        n = TAXI_ROWS_PER_FILE
        t = pa.table({
            "vendor_id": rng.integers(1, 3, n, dtype=np.int64),
            "pickup_day": pa.array(
                np.datetime64("2015-01-01") + rng.integers(0, 365, n)
                .astype("timedelta64[D]"), pa.date32()
            ),
            "passenger_count": rng.integers(1, 7, n, dtype=np.int64),
            "trip_distance": np.round(rng.exponential(3.0, n), 2),
            "fare_amount": np.round(rng.uniform(2.5, 80.0, n), 2),
            "payment_type": _pick(rng, ["CSH", "CRD", "NOC", "DIS"], n),
        })
        buf = io.BytesIO()
        pacsv.write_csv(t, buf)
        path = os.path.join(out_dir, f"trips-{i:02d}.csv.gz")
        with open(path + ".tmp", "wb") as f:
            f.write(gzip.compress(buf.getvalue(), compresslevel=1))
        os.replace(path + ".tmp", path)
        total += n
    return total


def _count_parquet(path: str) -> int:
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path)) if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def _count_csv_gz(path: str) -> int:
    n = 0
    for f in sorted(os.listdir(path)):
        with gzip.open(os.path.join(path, f), "rb") as fh:
            n += sum(1 for _ in fh) - 1  # header line
    return n


def build(root: str, seed: int, with_sf1: bool) -> dict:
    """Generate (or reuse) the data set for ``seed`` under ``root``.

    Returns a manifest: table name -> {"path", "rows"} with absolute
    paths. A data set is reused only when its manifest is complete, so
    an interrupted build is redone rather than trusted.
    """
    name = f"seed-{seed}" + ("-sf1" if with_sf1 else "")
    d = os.path.abspath(os.path.join(root, name))
    manifest_path = os.path.join(d, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rng = np.random.default_rng(seed)
    tables = base_tables(rng)
    manifest: dict[str, dict] = {}
    for tname, t in tables.items():
        path = os.path.join(d, f"{tname}.parquet")
        _write(t, path)
        manifest[tname] = {"path": path, "rows": t.num_rows}
    if with_sf1:
        li_dir = os.path.join(d, "lineitem_sf1")
        manifest["lineitem_sf1"] = {
            "path": li_dir,
            "rows": _replicate_lineitem(tables["lineitem"], rng, li_dir),
        }
        taxi_dir = os.path.join(d, "taxi")
        manifest["taxi"] = {
            "path": taxi_dir, "rows": _taxi_csv(rng, taxi_dir),
        }
    for tname, ent in manifest.items():
        got = (_count_csv_gz(ent["path"]) if tname == "taxi"
               else _count_parquet(ent["path"]))
        if got != ent["rows"]:
            raise RuntimeError(
                f"derived table {tname}: {got} rows on disk, "
                f"{ent['rows']} generated"
            )
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.replace(manifest_path + ".tmp", manifest_path)
    return manifest
