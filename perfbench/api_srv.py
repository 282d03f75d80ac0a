"""The ``jobs/api_server.py`` app in its own process, with the benchmark's
Spark settings (scratch space inside the work directory; event log when
traced) and, when traced, a span around each ``check_documents`` call.

  python3 perfbench/api_srv.py --port 8099 --master local[2] --conf conf.json [--trace]

``conf.json`` holds the ``extra_conf`` dict passed to ``session.get_spark``.
Traced, each request's Spark jobs run under the job group
``perfbench-req-<n>`` and ``GET /perfbench/spans`` returns the spans
recorded so far. SIGTERM stops the session and the JVM, then exits.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import threading
import time

import common


def traced_check_documents(check_documents, spans: list, sc):
    """Wrap ``check_documents``: one span per call, tagged with the trace
    id the client sent in ``X-Trace-Id``; its jobs get their own group."""
    from flask import request

    ids = iter(range(1, 1 << 62))
    lock = threading.Lock()

    def wrapper(*args, **kwargs):
        with lock:
            n = next(ids)
        group = f"perfbench-req-{n}"
        sc.setJobGroup(group, "jobs.check_one.check_documents")
        start, t0 = time.time(), time.perf_counter()
        try:
            return check_documents(*args, **kwargs)
        finally:
            dur = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            with lock:
                spans.append({"id": f"s{n}", "name":
                              "jobs.check_one.check_documents",
                              "trace": request.headers.get("X-Trace-Id"),
                              "parent": None,
                              "group": group, "start": start,
                              "end": start + dur, "dur_s": dur})

    return wrapper


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--port", type=int, required=True)
    p.add_argument("--master", required=True)
    p.add_argument("--conf", required=True)
    p.add_argument("--trace", action="store_true")
    args = p.parse_args()
    with open(args.conf) as f:
        extra_conf = json.load(f)

    from flask import jsonify

    from data_quality_autohealer_spark.session import get_spark
    from jobs import api_server, check_one

    start, t0 = time.time(), time.perf_counter()
    spark = get_spark(app_name="perfbench-api", master=args.master,
                      extra_conf=extra_conf)
    dur = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spans: list[dict] = [{"id": "s0", "name": "session.get_spark",
                          "trace": None, "parent": None, "start": start,
                          "end": start + dur, "dur_s": dur}]
    if args.trace:
        check_one.check_documents = traced_check_documents(
            check_one.check_documents, spans, spark.sparkContext)
    app = api_server.create_app(spark)

    @app.get("/perfbench/spans")
    def perfbench_spans():
        return jsonify(spans)

    def on_term(signum, frame):
        raise SystemExit(0)

    signal.signal(signal.SIGTERM, on_term)
    try:
        app.run(host="127.0.0.1", port=args.port, threaded=True)
    finally:
        common.stop_spark(spark)


if __name__ == "__main__":
    sys.exit(main())
