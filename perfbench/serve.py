"""Server launcher: one BigHouse engine behind HTTP and native TCP.

Run from the repository root (the program is imported from the
working directory):

    python3 perfbench/serve.py [--trace-out PATH]

Prints one JSON line with the ports, the process ids and the set-up
phase times once both listeners accept connections, then serves until
its standard input closes. With ``--trace-out`` it wraps the program's
entry points with span recorders first and writes the spans to PATH on
shutdown.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args()

    tracer = None
    if args.trace_out:
        import spans

        tracer = spans.Tracer()
        spans.install(tracer)

    from bighouse_spark.chwire import CHWireServer
    from bighouse_spark.engine import BigHouseEngine
    from bighouse_spark.server import make_server
    from bighouse_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark()
    t1 = time.monotonic()
    engine = BigHouseEngine(spark)
    t2 = time.monotonic()
    http = make_server(engine, port=0)
    tcp = CHWireServer(engine, port=0).start()
    threading.Thread(target=http.serve_forever, daemon=True).start()
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    print(json.dumps({
        "http": http.server_port, "tcp": tcp.port,
        "pid": os.getpid(), "jvm_pid": int(jvm_pid),
        "spark_start_s": t1 - t0, "engine_init_s": t2 - t1,
    }), flush=True)

    sys.stdin.read()  # serve until the benchmark closes our stdin
    http.shutdown()
    tcp.shutdown()
    if tracer is not None:
        tracer.dump(args.trace_out, spark)
    sys.stdout.flush()
    # The JVM exits when its gateway pipe closes with this process;
    # skipping SparkContext.stop saves seconds per run.
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
