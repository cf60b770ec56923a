"""Workload definitions: the seeded query corpus and the client loops.

All clients are closed loops: each sends its next request only after
the previous reply has fully arrived. Each request is timed on the
client from send to last byte. Responses are decoded and checked
against the DuckDB reference after the measured window, so checking
costs no client CPU while the server is being measured.
"""

from __future__ import annotations

import csv
import gzip
import http.client
import io
import itertools
import json
import threading
import time
import urllib.parse
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.ipc as paipc
import pyarrow.json as pajson
import pyarrow.parquet as pq

import oracle
import wire
from data import TAXI_SCHEMA

EXPORT_ROWS = 24_000  # target rows of one export result
# uniq is Spark's HyperLogLog++ at 5% relative standard deviation; a
# reference within five deviations of the exact count passes.
UNIQ_RTOL = 0.25
WRITE_ROWS = 1_000  # rows of one insert batch
CHECK_EVERY = 2  # batches between read-your-writes checks
OPTIMIZE_EVERY = 6  # batches between OPTIMIZE TABLE ... FINAL
WRITE_TABLE = "bench_writes"
# Int32 and DateTime64(6) rather than UInt32 and DateTime: a RowBinary
# INSERT into a created table decodes each column by its Spark type, so
# 4-byte UInt32/DateTime values would be read as 8-byte ones.
WRITE_DDL = (
    "CREATE TABLE {t} (id Int64, k Int32, v Int64, s String, "
    "ts DateTime64(6)) ENGINE = MergeTree ORDER BY id"
)


@dataclass
class Query:
    """One corpus entry: the SQL the server sees and its reference."""

    name: str
    sql: str
    ref: object  # DuckDB SQL text, or callable(con) -> (columns, kinds)
    fmt: str = "TabSeparated"
    proto: str = "http"
    params: dict = field(default_factory=dict)
    scanned: int = 0  # rows the sources hold (known from generation)
    approx: float = 0.0  # relative tolerance for approximate aggregates
    gzip: bool = False
    expect: tuple | None = None  # (canonical columns, kinds, digest)


@dataclass
class Record:
    kind: str  # read | insert | optimize | scrape
    name: str
    qid: str
    t0: float
    t1: float
    rows: int = 0
    scanned: int = 0
    error: str | None = None
    query: Query | None = None
    body: object = None  # raw response kept for the deferred check


def _f(path: str) -> str:
    return f"file('{path}', Parquet)"


# -- corpora ---------------------------------------------------------


def interactive_corpus(m: dict, rng: np.random.Generator) -> list[Query]:
    """Ten short-query shapes; two seeded variants of each."""
    L, O, C, E = (m[k]["path"] for k in ("lineitem", "orders", "customer", "events"))
    nL, nO, nC, nE = (m[k]["rows"] for k in ("lineitem", "orders", "customer", "events"))
    out: list[Query] = []
    for _ in range(2):
        actor = int(rng.integers(5_000, 40_000))
        etype = ["PushEvent", "WatchEvent", "IssuesEvent", "ForkEvent"][
            int(rng.integers(0, 4))]
        part = int(rng.integers(0, 10))
        q1day = str(np.datetime64("1998-12-01") - int(rng.integers(60, 121)))
        seg = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"][
            int(rng.integers(0, 5))]
        q3day = str(np.datetime64("1995-03-01") + int(rng.integers(0, 31)))
        qty = int(rng.integers(5, 45))
        oday = str(np.datetime64("1994-01-01") + int(rng.integers(0, 700)))
        fn = ["uniq", "sum", "count", "cityHash64", "avg"][int(rng.integers(0, 5))]
        hash_cols = "o_orderkey, o_custkey, o_totalprice, o_orderdate, o_shippriority"

        def checksum_ref(con, part=part):
            t = con.sql(
                f"SELECT {hash_cols} FROM '{O}' WHERE o_orderkey % 10 != {part}"
            ).arrow()
            h = oracle.spark_xxhash64_sum([
                (t["o_orderkey"].to_numpy(), "long"),
                (t["o_custkey"].to_numpy(), "long"),
                (t["o_totalprice"].to_numpy(), "double"),
                (t["o_orderdate"].cast(pa.int32()).to_numpy(), "int"),
                (t["o_shippriority"].to_numpy(), "int"),
            ])
            return [np.array([h], dtype=object)], ["int"]

        out += [
            Query("sum_group_by",
                  f"SELECT event_type, sum(commits) AS commits FROM {_f(E)} "
                  f"WHERE actor_id <= {actor} GROUP BY event_type",
                  f"SELECT event_type, sum(commits) FROM '{E}' "
                  f"WHERE actor_id <= {actor} GROUP BY event_type",
                  scanned=nE),
            Query("uniq",
                  f"SELECT uniq(actor_id) AS actors FROM {_f(E)} "
                  f"WHERE event_type = '{etype}'",
                  f"SELECT count(DISTINCT actor_id) FROM '{E}' "
                  f"WHERE event_type = '{etype}'",
                  scanned=nE, approx=UNIQ_RTOL),
            Query("count", f"SELECT count() FROM {_f(L)}",
                  f"SELECT count(*) FROM '{L}'", scanned=nL),
            Query("checksum",
                  f"SELECT sum(cityHash64(*)) AS h FROM (SELECT {hash_cols} "
                  f"FROM {_f(O)} WHERE o_orderkey % 10 != {part})",
                  checksum_ref, scanned=nO),
            Query("tpch_q1",
                  "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                  "sum(l_extendedprice) AS sum_base, "
                  "sum(l_extendedprice * (1 - l_discount)) AS sum_disc, "
                  "avg(l_discount) AS avg_disc, count() AS n "
                  f"FROM {_f(L)} WHERE l_shipdate <= toDate('{q1day}') "
                  "GROUP BY l_returnflag, l_linestatus "
                  "ORDER BY l_returnflag, l_linestatus",
                  "SELECT l_returnflag, l_linestatus, sum(l_quantity), "
                  "sum(l_extendedprice), sum(l_extendedprice * (1 - l_discount)), "
                  f"avg(l_discount), count(*) FROM '{L}' "
                  f"WHERE l_shipdate <= DATE '{q1day}' "
                  "GROUP BY l_returnflag, l_linestatus",
                  scanned=nL),
            Query("tpch_q3",
                  "SELECT l.l_orderkey AS okey, "
                  "sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue, "
                  "o.o_orderdate AS odate, o.o_shippriority AS prio "
                  f"FROM {_f(C)} AS c JOIN {_f(O)} AS o ON c.c_custkey = o.o_custkey "
                  f"JOIN {_f(L)} AS l ON l.l_orderkey = o.o_orderkey "
                  f"WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate < toDate('{q3day}') "
                  f"AND l.l_shipdate > toDate('{q3day}') "
                  "GROUP BY okey, odate, prio ORDER BY revenue DESC, okey LIMIT 10",
                  "SELECT l.l_orderkey, sum(l.l_extendedprice * (1 - l.l_discount)) AS r, "
                  f"o.o_orderdate, o.o_shippriority FROM '{C}' c "
                  f"JOIN '{O}' o ON c.c_custkey = o.o_custkey "
                  f"JOIN '{L}' l ON l.l_orderkey = o.o_orderkey "
                  f"WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate < DATE '{q3day}' "
                  f"AND l.l_shipdate > DATE '{q3day}' "
                  "GROUP BY 1, 3, 4 ORDER BY r DESC, 1 LIMIT 10",
                  scanned=nC + nO + nL),
            Query("window_topk",
                  "SELECT c_nationkey, c_custkey, c_acctbal FROM (SELECT c_nationkey, "
                  "c_custkey, c_acctbal, row_number() OVER (PARTITION BY c_nationkey "
                  "ORDER BY c_acctbal DESC, c_custkey) AS rn "
                  f"FROM {_f(C)} WHERE c_mktsegment = '{seg}') WHERE rn = 1",
                  "SELECT c_nationkey, c_custkey, c_acctbal FROM (SELECT c_nationkey, "
                  "c_custkey, c_acctbal, row_number() OVER (PARTITION BY c_nationkey "
                  "ORDER BY c_acctbal DESC, c_custkey) AS rn "
                  f"FROM '{C}' WHERE c_mktsegment = '{seg}') WHERE rn = 1",
                  scanned=nC),
            Query("param",
                  "SELECT l_linenumber, count() AS n FROM "
                  f"{_f(L)} WHERE l_quantity < {{q:UInt64}} GROUP BY l_linenumber",
                  f"SELECT l_linenumber, count(*) FROM '{L}' "
                  f"WHERE l_quantity < {qty} GROUP BY l_linenumber",
                  params={"q": str(qty)}, scanned=nL),
            Query("settings",
                  "SELECT o_orderpriority, count() AS n, sum(o_totalprice) AS total "
                  f"FROM {_f(O)} WHERE o_orderdate >= toDate('{oday}') "
                  "GROUP BY o_orderpriority SETTINGS max_threads = 2",
                  "SELECT o_orderpriority, count(*), sum(o_totalprice) "
                  f"FROM '{O}' WHERE o_orderdate >= DATE '{oday}' "
                  "GROUP BY o_orderpriority",
                  scanned=nO),
            Query("system_functions",
                  f"SELECT name FROM system.functions WHERE name = '{fn}'",
                  f"SELECT '{fn}' AS name"),
        ]
    tcp = ({"sum_group_by", "window_topk"}, {"count", "tpch_q1"})
    for i, q in enumerate(out):
        q.fmt = "JSON" if (i + int(rng.integers(0, 2))) % 2 else "TabSeparated"
        if q.name in tcp[i // 10]:
            q.proto = "tcp"
        if q.name == "checksum":
            # the JSON renderer prints Decimal(38, 0) as a double
            q.fmt = "TabSeparated"
    return out


EXPORT_FORMATS = [
    "Parquet", "ArrowStream", "RowBinaryWithNamesAndTypes", "Native",
    "TabSeparated", "JSONEachRow", "tcp",
]


def export_corpus(m: dict, rng: np.random.Generator) -> list[Query]:
    """Wide filtered projections, one per transport."""
    L, E = m["lineitem"]["path"], m["events"]["path"]
    nL, nE = m["lineitem"]["rows"], m["events"]["rows"]
    n_orders = m["orders"]["rows"]
    per_order = nL / n_orders
    out = []
    for i, fmt in enumerate(EXPORT_FORMATS):
        span = int(EXPORT_ROWS / per_order)
        lo = int(rng.integers(1, n_orders - span))
        if i % 2 == 0:
            cols = ("l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
                    "l_shipdate, l_shipmode")
            where = f"l_orderkey BETWEEN {lo} AND {lo + span}"
            sql = f"SELECT {cols} FROM {_f(L)} WHERE {where}"
            ref = f"SELECT {cols} FROM '{L}' WHERE {where}"
            scanned = nL
        else:
            width = int(40_000 * EXPORT_ROWS / nE)
            lo = int(rng.integers(1, 40_000 - width))
            cols = "actor_id, repo_id, event_type, commits"
            where = f"actor_id BETWEEN {lo} AND {lo + width}"
            sql = f"SELECT {cols} FROM {_f(E)} WHERE {where}"
            ref = f"SELECT {cols} FROM '{E}' WHERE {where}"
            scanned = nE
        proto = "tcp" if fmt == "tcp" else "http"
        out.append(Query(f"export_{fmt}", sql, ref,
                         fmt="Native" if proto == "tcp" else fmt,
                         proto=proto, scanned=scanned))
    return out


def scan_corpus(m: dict, rng: np.random.Generator) -> list[Query]:
    """The heavy headline shapes over the derived 10x data, serial."""
    S = m["lineitem_sf1"]["path"]
    nS = m["lineitem_sf1"]["rows"]
    T, nT = m["taxi"]["path"], m["taxi"]["rows"]
    day = str(np.datetime64("1998-12-01") - int(rng.integers(60, 121)))
    half = int(rng.integers(0, 2))
    pay = ["CSH", "CRD", "NOC", "DIS"][int(rng.integers(0, 4))]
    glob = f"file('{S}/*.parquet', Parquet)"
    taxi = f"file('{T}/trips-*.csv.gz', 'CSVWithNames', '{TAXI_SCHEMA}', 'gzip')"
    hash_cols = "l_orderkey, l_partkey, l_suppkey, l_quantity"

    def checksum_ref(con):
        t = con.sql(
            f"SELECT {hash_cols} FROM '{S}/*.parquet' WHERE l_suppkey % 2 = {half}"
        ).arrow()
        h = oracle.spark_xxhash64_sum(
            [(t[c].to_numpy(), "long") for c in hash_cols.split(", ")]
        )
        return [np.array([h], dtype=object)], ["int"]

    return [
        Query("sf1_q1",
              "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS q, "
              "sum(l_extendedprice * (1 - l_discount)) AS d, count() AS n "
              f"FROM {glob} WHERE l_shipdate <= toDate('{day}') "
              "GROUP BY l_returnflag, l_linestatus",
              "SELECT l_returnflag, l_linestatus, sum(l_quantity), "
              "sum(l_extendedprice * (1 - l_discount)), count(*) "
              f"FROM '{S}/*.parquet' WHERE l_shipdate <= DATE '{day}' "
              "GROUP BY l_returnflag, l_linestatus", scanned=nS),
        Query("sf1_taxi_count", f"SELECT count() FROM {taxi}",
              f"SELECT count(*) FROM read_csv('{T}/trips-*.csv.gz', header=true)",
              scanned=nT),
        Query("sf1_sum_group_by",
              f"SELECT l_shipmode, sum(l_quantity) AS q FROM {glob} GROUP BY l_shipmode",
              f"SELECT l_shipmode, sum(l_quantity) FROM '{S}/*.parquet' "
              "GROUP BY l_shipmode", fmt="Native", proto="tcp", scanned=nS),
        Query("sf1_checksum",
              f"SELECT sum(cityHash64(*)) AS h FROM (SELECT {hash_cols} "
              f"FROM {glob} WHERE l_suppkey % 2 = {half})",
              checksum_ref, scanned=nS),
        Query("sf1_uniq", f"SELECT uniq(l_partkey) AS u FROM {glob}",
              f"SELECT count(DISTINCT l_partkey) FROM '{S}/*.parquet'",
              scanned=nS, approx=UNIQ_RTOL),
        Query("sf1_taxi_group",
              "SELECT payment_type, count() AS n, sum(fare_amount) AS fares "
              f"FROM {taxi} WHERE payment_type != '{pay}' GROUP BY payment_type",
              "SELECT payment_type, count(*), sum(fare_amount) FROM "
              f"read_csv('{T}/trips-*.csv.gz', header=true) "
              f"WHERE payment_type != '{pay}' GROUP BY payment_type",
              scanned=nT),
    ]


def compute_expected(queries: list[Query], con) -> None:
    """Attach the reference answer to every query (untimed)."""
    for q in queries:
        if callable(q.ref):
            cols, kinds = q.ref(con)
        else:
            t = con.sql(q.ref).arrow()
            if isinstance(t, pa.RecordBatchReader):
                t = t.read_all()
            kinds = oracle.kinds_of(t)
            cols = [t.column(i) for i in range(t.num_columns)]
        canon = oracle.canonical(cols, kinds)
        q.expect = (canon, kinds, oracle.digest(canon, kinds))


# -- insert batches --------------------------------------------------


class Batches:
    """Seeded insert batches with the totals of those acknowledged."""

    def __init__(self, rng: np.random.Generator, rows: int) -> None:
        self.rng = rng
        self.rows = rows
        self.next_id = 1
        self.count = 0
        self.sum_v = 0
        self.user_bytes = 0
        self.pending = (0, 0)

    def make(self, i: int) -> tuple[str, bytes]:
        """Batch ``i``: (format, payload); alternates CSV / RowBinary."""
        n = self.rows
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        k = self.rng.integers(0, 1000, n, dtype=np.int32)
        v = self.rng.integers(-1_000_000, 1_000_000, n, dtype=np.int64)
        s = [f"s{x}" for x in self.rng.integers(0, 100_000, n)]
        us = self.rng.integers(1_672_531_200, 1_704_067_200, n) * 1_000_000
        self.pending = (n, int(v.sum()))
        if i % 2 == 0:
            buf = io.StringIO()
            w = csv.writer(buf, lineterminator="\n")
            stamps = np.datetime_as_string(us.astype("datetime64[us]"), unit="s")
            for row in zip(ids.tolist(), k.tolist(), v.tolist(), s,
                           (x.replace("T", " ") for x in stamps)):
                w.writerow(row)
            fmt, payload = "CSV", buf.getvalue().encode()
        else:
            fmt, payload = "RowBinary", wire.encode_rowbinary([
                ("Int64", ids), ("Int32", k), ("Int64", v),
                ("String", s), ("DateTime64(6)", us),
            ])
        self.user_bytes += len(payload)
        return fmt, payload

    def acknowledged(self) -> None:
        n, sv = self.pending
        self.count += n
        self.sum_v += sv


# -- HTTP client -----------------------------------------------------


class Http:
    """One keep-alive HTTP connection."""

    def __init__(self, port: int) -> None:
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def request(self, path: str, body: bytes | None = None,
                headers: dict | None = None) -> tuple[int, bytes, dict]:
        method = "POST" if body is not None else "GET"
        try:
            self.conn.request(method, path, body=body, headers=headers or {})
            resp = self.conn.getresponse()
            data = resp.read()
        except (http.client.HTTPException, ConnectionError):
            self.conn.close()
            self.conn = http.client.HTTPConnection(
                "127.0.0.1", self.port, timeout=170
            )
            raise
        return resp.status, data, dict(resp.getheaders())

    def close(self) -> None:
        self.conn.close()


# -- response decoding ----------------------------------------------


def decode(fmt: str, body: bytes) -> list:
    """Result body -> list of columns (positional)."""
    if fmt == "JSON":
        doc = json.loads(body, parse_float=Decimal)
        names = [c["name"] for c in doc["meta"]]
        return [[r[n] for r in doc["data"]] for n in names]
    if fmt == "TabSeparated":
        if not body:
            return []
        names = [f"c{i}" for i in range(body.split(b"\n", 1)[0].count(b"\t") + 1)]
        t = pacsv.read_csv(
            io.BytesIO(body),
            read_options=pacsv.ReadOptions(column_names=names),
            parse_options=pacsv.ParseOptions(delimiter="\t", quote_char=False),
            convert_options=pacsv.ConvertOptions(
                column_types={n: pa.string() for n in names},
            ),
        )
        return [t.column(i).cast(pa.string()) for i in range(t.num_columns)]
    if fmt == "JSONEachRow":
        t = pajson.read_json(io.BytesIO(body))
        return [t.column(i) for i in range(t.num_columns)]
    if fmt == "Parquet":
        t = pq.read_table(io.BytesIO(body))
        return [t.column(i) for i in range(t.num_columns)]
    if fmt == "ArrowStream":
        t = paipc.open_stream(io.BytesIO(body)).read_all()
        return [t.column(i) for i in range(t.num_columns)]
    if fmt == "Native":
        return wire.decode_native(body)[1]
    if fmt == "RowBinaryWithNamesAndTypes":
        r = wire.Reader(body)
        n = r.varint()
        for _ in range(n):
            r.string()  # column names
        types = [r.string() for _ in range(n)]
        return wire.decode_rowbinary(body[r.pos:], types)
    raise ValueError(f"no decoder for {fmt}")


def check(rec: Record) -> None:
    """Deferred result check; sets rec.rows and rec.error."""
    q = rec.query
    try:
        if q.proto == "tcp":
            cols = rec.body
        else:
            cols = decode(q.fmt, rec.body)
        expect, kinds, dig = q.expect
        got = oracle.canonical(cols, kinds)
        rec.rows = len(got[0]) if got else 0
        why = oracle.compare(expect, got, kinds, q.approx)
        if why:
            rec.error = (f"wrong result ({why}; digest "
                         f"{oracle.digest(got, kinds)} vs {dig})")
    except Exception as e:  # a malformed body is a wrong result
        rec.error = f"undecodable {q.fmt} result: {e!r}"[:300]
    finally:
        rec.body = None


# -- client loops ----------------------------------------------------


class Loop:
    """Shared state of one measured window: request ids, the records
    of every request sent, and the deadline."""

    def __init__(self, http_port: int, tcp_port: int, tag: str) -> None:
        self.http_port = http_port
        self.tcp_port = tcp_port
        self.tag = tag
        self.ids = itertools.count()
        self.records: list[Record] = []
        self.lock = threading.Lock()
        self.deadline = 0.0
        self.on_write = None  # callback after each acknowledged write

    def qid(self) -> str:
        with self.lock:
            return f"{self.tag}-{next(self.ids)}"

    def add(self, rec: Record) -> None:
        with self.lock:
            self.records.append(rec)

    def running(self) -> bool:
        return time.monotonic() < self.deadline

    def request(self, h: Http, kind: str, name: str, args: dict,
                body: bytes | None = None, route: str = "/",
                headers: dict | None = None) -> tuple[Record, dict]:
        """One timed HTTP request carrying a query_id; a failure is
        recorded on the returned record, not raised."""
        qid = self.qid()
        path = f"{route}?{urllib.parse.urlencode({**args, 'query_id': qid})}"
        t0 = time.monotonic()
        err, data, hdrs = None, b"", {}
        try:
            status, data, hdrs = h.request(path, body=body, headers=headers)
            if status != 200:
                err = f"HTTP {status}: {data[:200]!r}"
        except Exception as e:
            err = f"{type(e).__name__}: {e}"[:300]
        rec = Record(kind, name, qid, t0, time.monotonic(), error=err, body=data)
        self.add(rec)
        return rec, hdrs

    def sql(self, h: Http, kind: str, name: str, sql: str,
            body: bytes | None = None) -> Record:
        return self.request(h, kind, name, {"query": sql}, body=body)[0]

    def read(self, h: Http, tcp: wire.NativeClient | None, q: Query) -> Record:
        """One corpus query; its result is kept for the deferred check."""
        if q.proto == "tcp":
            qid = self.qid()
            t0 = time.monotonic()
            rec = Record("read", q.name, qid, t0, t0)
            try:
                rec.body = tcp.query(q.sql, qid)[1]
            except Exception as e:
                rec.error = f"{type(e).__name__}: {e}"[:300]
            rec.t1 = time.monotonic()
            self.add(rec)
        else:
            args = {"query": f"{q.sql} FORMAT {q.fmt}"}
            args.update({f"param_{k}": v for k, v in q.params.items()})
            rec, hdrs = self.request(
                h, "read", q.name, args,
                headers={"Accept-Encoding": "gzip"} if q.gzip else None,
            )
            if q.gzip and not rec.error:
                if hdrs.get("Content-Encoding") != "gzip":
                    rec.error = "gzip was asked for and not sent"
                else:
                    rec.body = gzip.decompress(rec.body)
        rec.query, rec.scanned = q, q.scanned
        return rec


def read_clients(loop: Loop,
                 streams: list[list[Query]]) -> list[threading.Thread]:
    """One closed-loop client per stream, cycling through it in order."""

    def client(queries: list[Query]) -> None:
        h = Http(loop.http_port)
        tcp = None
        try:
            if any(q.proto == "tcp" for q in queries):
                tcp = wire.NativeClient("127.0.0.1", loop.tcp_port)
            for q in itertools.cycle(queries):
                if not loop.running():
                    break
                rec = loop.read(h, tcp, q)
                if rec.error and q.proto == "tcp":  # resync the stream
                    tcp.close()
                    tcp = wire.NativeClient("127.0.0.1", loop.tcp_port)
        finally:
            h.close()
            if tcp is not None:
                tcp.close()

    return [threading.Thread(target=client, args=(qs,), name=f"client-{i}")
            for i, qs in enumerate(streams)]


class Writer:
    """Inserts seeded batches into one MergeTree table. After every
    ``check_every`` acknowledged batches the writer's next read must
    see them all; every ``optimize_every`` batches it compacts."""

    def __init__(self, loop: Loop, table: str, batches: Batches,
                 check_every: int, optimize_every: int) -> None:
        self.loop = loop
        self.table = table
        self.batches = batches
        self.check_every = check_every
        self.optimize_every = optimize_every
        self.done = 0  # batches acknowledged
        self.broken = False  # an insert failed: the totals are unknown

    def step(self, h: Http) -> None:
        if self.broken:
            return
        fmt, payload = self.batches.make(self.done)
        rec = self.loop.sql(
            h, "insert", f"insert_{fmt}",
            f"INSERT INTO {self.table} FORMAT {fmt}", body=payload,
        )
        rec.rows = self.batches.rows
        rec.body = None
        if rec.error:
            self.broken = True
            return
        self.batches.acknowledged()
        self.done += 1
        if self.loop.on_write:
            self.loop.on_write()
        if self.done % self.check_every == 0:
            self.check(h)
        if self.done % self.optimize_every == 0:
            opt = self.loop.sql(h, "optimize", "optimize",
                                f"OPTIMIZE TABLE {self.table} FINAL")
            opt.body = None
            if self.loop.on_write:
                self.loop.on_write()

    def check(self, h: Http) -> None:
        """Read-your-writes: count and sum equal the acknowledged totals."""
        chk = self.loop.sql(
            h, "read", "read_your_writes",
            f"SELECT count(), sum(v) FROM {self.table} FORMAT TabSeparated",
        )
        chk.scanned = self.batches.count
        if not chk.error:
            got = chk.body.decode().split()
            chk.rows = 1
            want = [str(self.batches.count), str(self.batches.sum_v)]
            if got != want:
                chk.error = f"wrong result (read-your-writes {got} vs {want})"
        chk.body = None


def ops_client(loop: Loop, writer: Writer,
               period: float = 1.0) -> threading.Thread:
    """The operator's thread: scrapes /metrics, then has the writer
    insert one batch; repeats at most once per ``period`` seconds.
    One thread for both keeps the client at one thread per core."""

    def run() -> None:
        h = Http(loop.http_port)
        try:
            nxt = time.monotonic()
            while loop.running():
                rec, _ = loop.request(h, "scrape", "metrics", {},
                                      route="/metrics")
                if not rec.error and b"bighouse_queries_total" not in rec.body:
                    rec.error = "scrape without the query counter"
                rec.body = None
                if loop.running():
                    writer.step(h)
                nxt += period
                time.sleep(max(0.0, nxt - time.monotonic()))
        finally:
            h.close()

    return threading.Thread(target=run, name="ops")
