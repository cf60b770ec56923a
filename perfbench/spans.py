"""Span recorders for the traced run, installed by the launcher.

``install`` wraps the program's public entry points in the server
process. Each wrapper records a span at a layer boundary; spans of one
request share the request's ``query_id`` (sent by the benchmark's
clients on every request, HTTP and native TCP alike). A layer's self
time is its span's duration minus the part covered by child spans, so
the self times of one request add up to its root span's wall time.

Only aggregates are kept per request (self seconds and calls per
layer, the wall-clock intervals of the result-collection spans, py4j
round trips), in memory; ``dump`` writes them once, at shutdown,
together with each request's Spark jobs read from Spark's status
store for the job group the engine names after the query_id.
"""

from __future__ import annotations

import functools
import gzip
import importlib
import json
import threading
import time
import urllib.parse

_perf = time.perf_counter


class Request:
    __slots__ = ("qid", "root", "wall", "layers", "collect", "py4j_calls",
                 "py4j_s")

    def __init__(self, root: str) -> None:
        self.qid = None
        self.root = root
        self.wall = 0.0
        self.layers: dict[str, list] = {}  # name -> [self_s, calls]
        self.collect: list[tuple[float, float]] = []  # epoch intervals
        self.py4j_calls = 0
        self.py4j_s = 0.0


class Tracer:
    def __init__(self) -> None:
        self.local = threading.local()
        self.lock = threading.Lock()
        self.done: list[Request] = []
        self.unkeyed = 0

    # -- span stack ----------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self.local, "stack", None)
        if st is None:
            st = self.local.stack = []
        return st

    def current(self) -> Request | None:
        return getattr(self.local, "req", None)

    def root(self, layer: str, qid_of, fn, args, kwargs):
        if self.current() is not None:  # nested root: plain span
            return self.span(layer, fn, args, kwargs)
        req = Request(layer)
        req.qid = qid_of(args)
        self.local.req = req
        st = self._stack()
        frame = [layer, _perf(), 0.0]
        st.append(frame)
        try:
            return fn(*args, **kwargs)
        finally:
            self._pop(frame, req)
            req.wall = _perf() - frame[1]
            self.local.req = None
            with self.lock:
                if req.qid is None:
                    self.unkeyed += 1
                else:
                    self.done.append(req)

    def span(self, layer: str, fn, args, kwargs):
        req = self.current()
        if req is None:
            return fn(*args, **kwargs)
        frame = [layer, _perf(), 0.0]
        self._stack().append(frame)
        try:
            return fn(*args, **kwargs)
        finally:
            self._pop(frame, req)

    def _pop(self, frame: list, req: Request) -> None:
        st = self._stack()
        st.pop()
        d = _perf() - frame[1]
        if st:
            st[-1][2] += d
        acc = req.layers.get(frame[0])
        if acc is None:
            acc = req.layers[frame[0]] = [0.0, 0]
        acc[0] += d - frame[2]
        acc[1] += 1

    def collect_span(self, fn, args, kwargs):
        """A blocking result-collection call: also keeps its epoch
        interval, to be overlapped with the Spark job intervals."""
        req = self.current()
        if req is None:
            return fn(*args, **kwargs)
        e0 = time.time()
        try:
            return self.span("collect", fn, args, kwargs)
        finally:
            req.collect.append((e0, time.time()))

    # -- wrappers ------------------------------------------------------

    def wrap(self, owner, attr: str, layer, kind: str = "span") -> None:
        orig = getattr(owner, attr)
        tracer = self

        if kind == "collect":
            @functools.wraps(orig)
            def w(*args, **kwargs):
                return tracer.collect_span(orig, args, kwargs)
        elif kind == "iter":
            @functools.wraps(orig)
            def w(*args, **kwargs):
                it = orig(*args, **kwargs)
                if tracer.current() is None:
                    return it
                return tracer._timed_iter(it)
        elif callable(layer):
            @functools.wraps(orig)
            def w(*args, **kwargs):
                return tracer.span(layer(args, kwargs), orig, args, kwargs)
        else:
            @functools.wraps(orig)
            def w(*args, **kwargs):
                return tracer.span(layer, orig, args, kwargs)
        setattr(owner, attr, w)

    def wrap_root(self, owner, attr: str, layer: str, qid_of) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def w(*args, **kwargs):
            return tracer.root(layer, qid_of, orig, args, kwargs)

        setattr(owner, attr, w)

    def _timed_iter(self, it):
        nxt = it.__next__
        while True:
            try:
                row = self.collect_span(nxt, (), {})
            except StopIteration:
                return
            yield row

    def wrap_py4j(self, cls) -> None:
        orig = cls.send_command
        tracer = self

        @functools.wraps(orig)
        def w(*args, **kwargs):
            req = tracer.current()
            if req is None:
                return orig(*args, **kwargs)
            t0 = _perf()
            try:
                return orig(*args, **kwargs)
            finally:
                req.py4j_calls += 1
                req.py4j_s += _perf() - t0

        cls.send_command = w

    # -- output --------------------------------------------------------

    def span_cost(self, n: int = 20000) -> float:
        """Seconds one span adds to the call it wraps (calibration)."""
        self.local.req = Request("calibration")
        noop = int
        t0 = _perf()
        for _ in range(n):
            self.span("calibration", noop, (), {})
        traced = _perf() - t0
        self.local.req = None
        t0 = _perf()
        for _ in range(n):
            noop()
        return max(0.0, (traced - (_perf() - t0)) / n)

    def dump(self, path: str, spark) -> None:
        jobs = spark_jobs(spark, {r.qid for r in self.done})
        out = {
            "span_cost_s": self.span_cost(),
            "requests": [
                {
                    "qid": r.qid, "root": r.root, "wall_s": r.wall,
                    "layers": r.layers, "collect": r.collect,
                    "py4j_calls": r.py4j_calls, "py4j_s": r.py4j_s,
                    "jobs": jobs.get(r.qid, []),
                }
                for r in self.done
            ],
            "unkeyed_requests": self.unkeyed,
        }
        with open(path, "w") as f:
            json.dump(out, f)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def spark_jobs(spark, groups: set) -> dict:
    """Jobs per job group from Spark's status store: submission,
    completion and first-task-launch times (epoch ms), stages, tasks."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out: dict[str, list] = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        grp = j.jobGroup()
        if not grp.isDefined() or grp.get() not in groups:
            continue
        sids = j.stageIds()
        first_launch = None
        tasks = 0
        for k in range(sids.size()):
            try:
                st = store.lastStageAttempt(sids.apply(k))
            except Exception:  # stage evicted or skipped
                continue
            tasks += st.numTasks()
            t = _opt_ms(st.firstTaskLaunchedTime())
            if t is not None and (first_launch is None or t < first_launch):
                first_launch = t
        out.setdefault(grp.get(), []).append({
            "submit_ms": _opt_ms(j.submissionTime()),
            "end_ms": _opt_ms(j.completionTime()),
            "first_task_ms": first_launch,
            "stages": sids.size() - j.numSkippedStages(),
            "tasks": tasks - j.numSkippedTasks(),
        })
    return out


def _http_qid(args) -> str | None:
    path = getattr(args[0], "path", "") or ""
    q = urllib.parse.urlsplit(path).query
    vals = urllib.parse.parse_qs(q).get("query_id")
    return vals[0] if vals else None


def install(tracer: Tracer) -> None:
    """Wrap the program's entry points (server process only)."""
    import py4j.clientserver
    import py4j.java_gateway
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.session import SparkSession

    from bighouse_spark import chwire, compress, engine, formats, metrics, server

    # the package re-exports the function under the module's name
    tmod = importlib.import_module("bighouse_spark.dialect.transpile")
    readers = importlib.import_module("bighouse_spark.sources.readers")

    t = tracer
    t.wrap_root(server._Handler, "do_GET", "server", _http_qid)
    t.wrap_root(server._Handler, "do_POST", "server", _http_qid)
    t.wrap_root(chwire._Conn, "handle_query", "chwire", lambda a: None)

    def select_qid(args, kwargs):
        req = t.current()
        if req is not None and req.qid is None:
            req.qid = args[2]
        return "chwire"

    t.wrap(chwire._Conn, "handle_select", select_qid)

    def engine_layer(args, kwargs):
        req = args[1]
        sql = req if isinstance(req, str) else getattr(req, "query", "")
        head = sql.lstrip()[:8].upper()
        if head.startswith("INSERT"):
            return "engine.insert"
        if head.startswith("OPTIMIZE"):
            return "optimize"
        return "engine"

    t.wrap(engine.BigHouseEngine, "execute", engine_layer)
    for name in ("insert_rowbinary", "insert_native", "insert_decoded"):
        t.wrap(engine.BigHouseEngine, name, "engine.insert")
    t.wrap(engine, "transpile", "transpile")
    t.wrap(tmod, "read_source", "readers.read_source")
    t.wrap(readers, "read_source", "readers.read_source")
    t.wrap(SparkSession, "sql", "spark.analyze")
    t.wrap(DataFrame, "collect", None, kind="collect")
    t.wrap(DataFrame, "toLocalIterator", None, kind="iter")
    t.wrap(server, "render_result", "formats.render")
    t.wrap(formats.StreamRenderer, "row_bytes", "formats.render")
    t.wrap(formats.StreamRenderer, "header_bytes", "formats.render")
    t.wrap(chwire, "_render_native", "formats.render")
    for name in ("parse_rowbinary", "parse_native",
                 "parse_rowbinary_with_names_and_types"):
        t.wrap(formats, name, "formats.parse")
    t.wrap(gzip, "compress", "compress")
    t.wrap(compress, "zstd_compress", "compress")
    t.wrap(chwire, "compress_frame", "compress")
    t.wrap(metrics, "render", "metrics.render")
    for name in ("_send_text", "_send"):
        t.wrap(server._Handler, name, "server.write")
    for name in ("_send_headers", "_flush", "finish"):
        t.wrap(server._HTTPStreamSink, name, "server.write")
    t.wrap(chwire._Wire, "send", "server.write")
    t.wrap_py4j(py4j.clientserver.ClientServerConnection)
    t.wrap_py4j(py4j.java_gateway.GatewayConnection)
