"""One benchmark run: inputs, references, server, clients, metrics."""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

import duckdb
import numpy as np

import data
import workloads as wl
from host import Server, SpeedProbe, cpu_ticks, loadavg, steal_pct_busy

WORKLOADS = ("interactive", "bulk")
WARMUP_S = 10.0  # untimed closed-loop warm-up before the measured window
WORK = os.path.join(".bench_build", "perfbench")  # inputs, logs, spans

# Layers whose self times add up to a request's server-side wall time.
SELF_LAYERS = [
    "server", "chwire", "engine", "transpile", "readers.read_source",
    "spark.analyze", "spark.job", "collect.transfer", "formats.render",
    "formats.parse", "compress", "server.write", "engine.insert",
    "optimize", "metrics.render",
]
METRIC_OF_LAYER = {
    "server": "server.self_ms", "chwire": "chwire.self_ms",
    "engine": "engine.self_ms", "transpile": "transpile.self_ms",
    "readers.read_source": "readers.read_source_ms",
    "spark.analyze": "spark.analyze_ms", "spark.job": "spark.job_ms",
    "collect.transfer": "collect.transfer_ms",
    "formats.render": "formats.render_ms", "formats.parse": "formats.parse_ms",
    "compress": "compress.ms", "server.write": "server.write_ms",
    "engine.insert": "engine.insert_ms", "optimize": "optimize.ms",
    "metrics.render": "metrics.render_ms",
}


def _keep_latest(root: str, keep: str, n: int = 2) -> None:
    """Bound the data cache: keep ``keep`` and the n-1 newest others."""
    if not os.path.isdir(root):
        return
    dirs = sorted(
        (d for d in os.listdir(root) if d != keep),
        key=lambda d: os.path.getmtime(os.path.join(root, d)), reverse=True,
    )
    for d in dirs[n - 1:]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def streams_for(workload: str, manifest: dict, rng) -> list[list[wl.Query]]:
    """The query stream of each read client, in send order."""
    if workload == "interactive":
        qs = wl.interactive_corpus(manifest, rng)
        streams = [qs[i * 7:] + qs[:i * 7] for i in range(3)]
    else:
        scans = wl.scan_corpus(manifest, rng)
        qs = wl.export_corpus(manifest, rng) + scans
        streams = [qs[:len(qs) - len(scans)], scans]
    for stream in streams if workload == "bulk" else [qs]:
        http_qs = [q for q in stream if q.proto == "http"]
        for q in http_qs[5::6] or http_qs[:1]:  # one HTTP read in six: gzip
            q.gzip = True
    return streams


def _table_dir(tmp: str, table: str) -> str | None:
    hits = glob.glob(os.path.join(tmp, f"bh_tbl_{table}_*"))
    return hits[0] if hits else None


def _parquet_files(d: str | None) -> dict[str, int]:
    out = {}
    if d:
        for p in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
            if "/_" in p[len(d):] or "/." in p[len(d):]:
                continue
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def _tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples above it:
    (value, percentile, samples). Below 11 samples: the maximum."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _overlap(xs, ys) -> float:
    tot = 0.0
    for a, b in xs:
        for c, d in ys:
            tot += max(0.0, min(b, d) - max(a, c))
    return tot


def run(args) -> int:
    seed, workload = args.seed, args.workload
    work = WORK
    os.makedirs(work, exist_ok=True)
    phases = {}
    tp = time.monotonic()
    data_root = os.path.join(work, "data")
    name = f"seed-{seed}" + ("-sf1" if workload == "bulk" else "")
    _keep_latest(data_root, name)
    manifest = data.build(data_root, seed, workload == "bulk")
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    streams = streams_for(workload, manifest, rng)
    con = duckdb.connect()
    try:
        wl.compute_expected({id(q): q for s in streams for q in s}.values(), con)
    finally:
        con.close()

    phases["inputs_s"] = time.monotonic() - tp
    ticks0, load0 = cpu_ticks(), loadavg()
    trace_out = (os.path.abspath(os.path.join(work, "spans.json"))
                 if args.trace else None)
    if trace_out and os.path.exists(trace_out):
        os.remove(trace_out)
    probe = SpeedProbe()
    probe.start()
    srv = Server(work, trace_out)
    table = wl.WRITE_TABLE
    storage = {"seen": {}, "dir": None}
    final_error = None
    loop = None
    try:
        loop = wl.Loop(srv.info["http"], srv.info["tcp"], f"r{seed}")
        h = wl.Http(loop.http_port)
        rec = loop.sql(h, "ddl", "create", wl.WRITE_DDL.format(t=table))
        h.close()
        loop.records.clear()
        if rec.error:
            raise RuntimeError(f"CREATE TABLE failed: {rec.error}")
        storage["dir"] = _table_dir(srv.tmp, table)
        if args.trace:
            def on_write() -> None:
                storage["seen"].update(_parquet_files(storage["dir"]))
            loop.on_write = on_write
        batches = wl.Batches(np.random.default_rng([seed, 99]), wl.WRITE_ROWS)
        writer = wl.Writer(loop, table, batches, wl.CHECK_EVERY,
                           wl.OPTIMIZE_EVERY)
        threads = wl.read_clients(loop, streams)
        threads.append(wl.ops_client(loop, writer))
        t_start = time.monotonic()
        t_warm = t_start + WARMUP_S
        loop.deadline = t_warm + args.seconds
        for t in threads:
            t.start()
        for t in threads:
            t.join(args.seconds + 150)
        probe.stop()
        if any(t.is_alive() for t in threads):
            raise RuntimeError("a client did not finish")
        phases["window_s"] = time.monotonic() - t_start
        tp = time.monotonic()
        for r in loop.records:
            if r.query is not None and r.error is None:
                wl.check(r)
        phases["check_s"] = time.monotonic() - tp
        h = wl.Http(loop.http_port)
        fin = loop.sql(h, "final", "final_totals",
                       f"SELECT count(), sum(v) FROM {table} FORMAT TabSeparated")
        h.close()
        got = fin.body.decode().split() if not fin.error else [fin.error]
        want = [str(batches.count), str(batches.sum_v)]
        if batches.count and got != want:
            final_error = f"final totals {got} vs generated {want}"
        peak_rss = srv.peak_rss_mb()
        files_end = _parquet_files(storage["dir"])
    finally:
        if loop is not None:  # on an error, clients stop after their request
            loop.deadline = 0.0
        tp = time.monotonic()
        srv.stop()
        phases["stop_s"] = time.monotonic() - tp
    ticks1, load1 = cpu_ticks(), loadavg()

    measured = [r for r in loop.records
                if r.t0 >= t_warm and r.kind != "final"]
    warm_errors = [r for r in loop.records
                   if r.t0 < t_warm and r.error and r.kind != "final"]
    sql = [r for r in measured if r.kind != "scrape"]
    failed = [r for r in measured if r.error]
    if not sql:
        print("perfbench: no request completed in the window", flush=True)
        return 3
    window = max(r.t1 for r in measured) - t_warm
    # Times are scaled to a reference host speed. This host's cores
    # change speed by up to half, and steal takes up to a fifth of their
    # time, as other tenants' load comes and goes; every query shape
    # changes with them. A time is divided by the host's slowness while
    # it was taken, a rate multiplied by the slowness over the window.
    slow = probe.slowness(t_warm, t_warm + window)
    lat_raw = [(r.t1 - r.t0) * 1000 for r in sql]
    lat = [ms / probe.slowness(r.t0, r.t1) for ms, r in zip(lat_raw, sql)]
    ins = [ms for ms, r in zip(lat, sql) if r.kind == "insert"]
    reads = [r for r in sql if r.kind == "read"]
    tail, pct, n = _tail(lat)
    # The writer's rate is taken over whole cycles of the ops thread,
    # from its first scrape in the window to its last: a window holds
    # only ~10 inserts, and counting them to its ends would move the
    # rate by a tenth for one insert more or less.
    cycle = sorted(r.t0 for r in measured if r.kind == "scrape")
    if len(cycle) < 2:  # a window shorter than two cycles: all of it
        cycle = [t_warm, t_warm + window]
    ingested = sum(r.rows for r in sql if r.kind == "insert"
                   and cycle[0] <= r.t0 < cycle[-1])
    rates = {
        "qps": (len(sql) / window, "1/s"),
        "result_rows_per_s": (sum(r.rows for r in reads) / window, "rows/s"),
        "scan_rows_per_s": (sum(r.scanned for r in reads) / window, "rows/s"),
        "ingest_rows_per_s": (ingested / (cycle[-1] - cycle[0]), "rows/s"),
    }
    setup_slow = probe.slowness(srv.t0, srv.t0 + srv.setup_s)
    e2e = {
        "setup_s": (srv.setup_s / setup_slow, "s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_tail_ms": (tail, "ms"),
        **{k: (v * slow, u) for k, (v, u) in rates.items()},
        "server_peak_rss_mb": (sum(peak_rss), "MB"),
    }
    correct = not failed and not warm_errors and final_error is None
    by_name: dict[str, list[float]] = {}
    for ms, r in zip(lat, sql):
        by_name.setdefault(r.name, []).append(ms)
    report = {
        "workload": workload, "seed": seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct,
        "attempted": len(measured), "failed": len(failed),
        "fail_ratio": len(failed) / len(measured),
        "latency_tail_percentile": round(pct, 2), "latency_samples": n,
        # Not an end-to-end metric: ~10 inserts a run, each beside a
        # 4-core scan on bulk, leave a run-to-run spread near the bound.
        "insert_p50_ms": statistics.median(ins) if ins else None,
        "window_s": window,
        "requests": {k: sum(1 for r in measured if r.kind == k)
                     for k in ("read", "insert", "optimize", "scrape")},
        # (start, s after warm-up; unscaled latency, ms; query shape)
        "timeline": [(round(r.t0 - t_warm, 2), round(ms), r.name)
                     for ms, r in sorted(zip(lat_raw, sql),
                                         key=lambda p: p[1].t0)],
        "p50_ms_by_query": {k: statistics.median(v)
                            for k, v in sorted(by_name.items())},
        "mismatches": [
            {"query": r.name, "qid": r.qid, "error": r.error,
             "sql": r.query.sql[:300] if r.query else None}
            for r in failed + warm_errors
        ][:20],
        "final_check": final_error or "ok",
        "phases": phases,
        "host": {
            "steal_pct_busy": round(steal_pct_busy(ticks0, ticks1), 3),
            "loadavg_before": load0, "loadavg_after": load1,
            "cpus": len(os.sched_getaffinity(0)),
        },
        "peak_rss_mb": {"python": peak_rss[0], "jvm": peak_rss[1]},
        "host_slowness": {"setup": setup_slow, "window": slow},
        "unscaled": {
            "setup_s": srv.setup_s,
            "latency_p50_ms": statistics.median(lat_raw),
            "latency_tail_ms": _tail(lat_raw)[0],
            **{k: v for k, (v, _) in rates.items()},
            "insert_p50_ms": statistics.median(
                [ms for ms, r in zip(lat_raw, sql) if r.kind == "insert"]
                or [0.0]),
        },
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    metrics = report["metrics"]
    if args.trace:
        with open(trace_out) as f:
            spans = json.load(f)
        layer = per_layer(spans, measured, srv.info, storage, files_end,
                          batches.user_bytes)
        report["layers"] = layer.pop("_details")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        report["per_layer"] = metrics
    print(json.dumps({"report": report}), flush=True)
    print(json.dumps({
        "correct": correct, "attempted": len(measured),
        "failed": len(failed), "metrics": metrics,
    }), flush=True)
    return 0


def per_layer(spans: dict, measured: list, info: dict, storage: dict,
              files_end: dict, user_bytes: int) -> dict:
    by_qid = {r["qid"]: r for r in spans["requests"]}
    tot = {k: 0.0 for k in SELF_LAYERS}
    counts = {k: 0 for k in ("read_source_calls", "jobs", "stages", "tasks",
                             "py4j_calls", "spans")}
    wait = between = job_wall = py4j_s = 0.0
    n_sql = 0
    client_wall = server_wall = 0.0
    scrapes: list[tuple[float, float]] = []
    for rec in measured:
        tr = by_qid.get(rec.qid)
        if tr is None:
            continue
        lay = tr["layers"]
        if rec.kind == "scrape":
            scrapes.append((rec.t0, lay.get("metrics.render", [0, 0])[0] * 1000))
        else:
            n_sql += 1
        client_wall += rec.t1 - rec.t0
        server_wall += tr["wall_s"]
        for name, (self_s, calls) in lay.items():
            counts["spans"] += calls
            if name == "collect":
                continue
            tot[name] = tot.get(name, 0.0) + self_s
        counts["read_source_calls"] += lay.get("readers.read_source", [0, 0])[1]
        counts["py4j_calls"] += tr["py4j_calls"]
        py4j_s += tr["py4j_s"]
        counts["spans"] += tr["py4j_calls"]
        collect_self = lay.get("collect", [0.0, 0])[0]
        jobs = [j for j in tr["jobs"] if j["submit_ms"] and j["end_ms"]]
        ivs = _union([(j["submit_ms"] / 1000, j["end_ms"] / 1000) for j in jobs])
        blocking = min(collect_self, _overlap(ivs, _union(
            [tuple(c) for c in tr["collect"]])))
        tot["spark.job"] += blocking
        tot["collect.transfer"] += collect_self - blocking
        job_wall += sum(b - a for a, b in ivs)
        for j in tr["jobs"]:
            counts["jobs"] += 1
            counts["stages"] += j["stages"]
            counts["tasks"] += j["tasks"]
            if j["first_task_ms"] and j["submit_ms"]:
                wait += max(0.0, j["first_task_ms"] - j["submit_ms"]) / 1000
        seq = sorted((j["submit_ms"], j["end_ms"]) for j in jobs)
        for (a0, a1), (b0, _) in zip(seq, seq[1:]):
            between += max(0.0, b0 - a1) / 1000
    per = max(n_sql, 1)
    out: dict = {}
    for name in SELF_LAYERS:
        if name == "metrics.render":
            continue
        out[METRIC_OF_LAYER[name]] = (tot[name] * 1000 / per, "ms")
    out["readers.read_source_calls"] = (counts["read_source_calls"] / per, "count")
    out["spark.jobs"] = (counts["jobs"] / per, "count")
    out["spark.stages"] = (counts["stages"] / per, "count")
    out["spark.tasks"] = (counts["tasks"] / per, "count")
    out["spark.wait_ms"] = (wait * 1000 / per, "ms")
    out["spark.between_jobs_ms"] = (between * 1000 / per, "ms")
    out["spark.job_wall_ms"] = (job_wall * 1000 / per, "ms")
    out["py4j.calls"] = (counts["py4j_calls"] / per, "count")
    out["py4j.ms"] = (py4j_s * 1000 / per, "ms")
    render = [v for _, v in scrapes]
    out["metrics.render_ms"] = (statistics.mean(render) if render else 0.0, "ms")
    slope = 0.0
    if len(scrapes) >= 2:
        x = np.array([t for t, _ in scrapes]) / 60.0
        slope = float(np.polyfit(x - x[0], np.array(render), 1)[0])
    out["metrics.render_slope_ms_per_min"] = (slope, "ms/min")
    written = dict(storage["seen"])
    written.update(files_end)
    ub = max(user_bytes, 1)
    out["storage.parquet_files"] = (float(len(files_end)), "count")
    out["storage.bytes_per_user_byte"] = (sum(files_end.values()) / ub, "ratio")
    out["storage.write_amp"] = (sum(written.values()) / ub, "ratio")
    out["session.spark_start_ms"] = (info["spark_start_s"] * 1000, "ms")
    out["engine.init_ms"] = (info["engine_init_s"] * 1000, "ms")
    out["trace.coverage"] = (server_wall / client_wall if client_wall else 0.0,
                             "ratio")
    out["trace.client_ms"] = ((client_wall - server_wall) * 1000 / per, "ms")
    out["trace.overhead_ms"] = (
        counts["spans"] * spans.get("span_cost_s", 0.0) * 1000 / per, "ms")
    ranked = sorted(
        ((METRIC_OF_LAYER[k], tot[k] * 1000 / per) for k in SELF_LAYERS),
        key=lambda kv: -kv[1],
    )
    out["_details"] = {
        "traced_requests": n_sql, "scrapes": len(scrapes),
        "top_layers": [{"layer": k, "ms_per_request": v} for k, v in ranked[:3]],
        "unkeyed_requests": spans.get("unkeyed_requests", 0),
    }
    return out
