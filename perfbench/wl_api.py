"""api_check: ``jobs/api_server.py`` in its own process (``api_srv.py``),
driven by a closed loop of ``API_CLIENTS`` client threads, each sending its
next fixed 8-doc body to ``POST /quality/check`` only after the previous
reply arrived.

Same scoring layer as filter_batch, but with tiny batches: the fixed cost
of each request (DataFrame creation, Spark jobs, Python-worker round trips)
dominates the scoring compute.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import socket
import subprocess
import sys
import threading
import time

import common
import inputs

API_CLIENTS = 2
SERVER_CORES = 2       # server slots + client threads stay within nproc
READY_TIMEOUT_S = 150.0
WARMUP_ROUNDS = 3      # closed-loop rounds before timing, per client


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def post(port: int, body: dict, headers: dict | None = None
         ) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("POST", "/quality/check", json.dumps(body),
                     {"Content-Type": "application/json", **(headers or {})})
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, json.loads(data) if resp.status == 200 else None
    finally:
        conn.close()


class ApiBench:
    def __init__(self, run: common.Run) -> None:
        import pandas as pd

        from oracle.rules import reference_labels

        self.run = run
        self.bodies = inputs.api_bodies(run.seed)
        docs = [d for body in self.bodies for d in body]
        ref = reference_labels(pd.DataFrame({
            "url": [str(i) for i in range(len(docs))],
            "text": [d["text"] for d in docs],
            "lang": [d["lang"] for d in docs]}))
        per = inputs.API_DOCS_PER_REQUEST
        pairs = list(zip(ref["keep"].astype(bool), ref["scrubbed_text"]))
        self.expected = [pairs[i * per:(i + 1) * per]
                         for i in range(len(self.bodies))]
        self.port = free_port()
        self.server: subprocess.Popen | None = None

    def start(self) -> None:
        conf = self.run.work / "api-conf.json"
        with open(conf, "w") as f:
            json.dump(self.run.spark_conf(), f)
        cmd = [sys.executable, str(common.BENCH_DIR / "api_srv.py"),
               "--port", str(self.port), "--master", f"local[{SERVER_CORES}]",
               "--conf", str(conf)] + (["--trace"] if self.run.trace else [])
        self.log = open(self.run.work / "api-server.log", "w")
        self.server = subprocess.Popen(cmd, stdout=self.log,
                                       stderr=subprocess.STDOUT)

    def wait_ready(self) -> None:
        """Until the first request succeeds: JVM, session, Flask, models."""
        deadline = time.monotonic() + READY_TIMEOUT_S
        body = {"documents": self.bodies[0]}
        while True:
            if self.server.poll() is not None:
                raise RuntimeError(f"api server exited ({self.server.returncode})")
            try:
                if post(self.port, body)[0] == 200:
                    return
            except OSError:
                pass
            if time.monotonic() > deadline:
                raise RuntimeError("api server not ready in time")
            time.sleep(0.2)

    def closed_loop(self, seconds: float, tag: str, trace: bool = False,
                    min_rounds: int = 1) -> list[dict]:
        """API_CLIENTS threads, each sending its next body only after the
        previous reply, for ``seconds`` and at least ``min_rounds`` requests
        each; returns one record per request."""
        records: list[dict] = []
        lock = threading.Lock()
        counter = iter(range(1 << 62))
        deadline = time.perf_counter() + seconds

        def client(c: int) -> None:
            for done in itertools.count():
                if done >= min_rounds and time.perf_counter() >= deadline:
                    break
                with lock:
                    n = next(counter)
                b = n % len(self.bodies)
                headers = {"X-Trace-Id": f"{tag}-{n}"} if trace else None
                rec = {"n": n, "body": b, "trace": f"{tag}-{n}",
                       "start": time.time()}
                t0 = time.perf_counter()
                try:
                    rec["status"], rec["resp"] = post(
                        self.port, {"documents": self.bodies[b]}, headers)
                except OSError as e:
                    rec["status"], rec["resp"] = repr(e), None
                rec["latency_s"] = time.perf_counter() - t0
                with lock:
                    records.append(rec)

        threads = [threading.Thread(target=client, args=(c,))
                   for c in range(API_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return records

    def check(self, records: list[dict]) -> None:
        """Each reply: status 200, and per document the same ``keep`` and
        byte-identical ``scrubbed_text`` as the single-process oracle
        (``score_batch`` plus the decision rules) on the same texts."""
        for rec in records:
            self.run.attempted += 1
            resp = rec["resp"]
            if resp is None:
                self.run.check(False, f"status {rec['status']}", rec["trace"])
                continue
            got = [(d["keep"], d["scrubbed_text"]) for d in resp["documents"]]
            self.run.check(got == self.expected[rec["body"]],
                           f"body {rec['body']}: reply differs from oracle",
                           rec["trace"])

    def spans(self) -> list[dict]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            conn.request("GET", "/perfbench/spans")
            return json.loads(conn.getresponse().read())
        finally:
            conn.close()

    def stop(self) -> None:
        """SIGTERM the server (it stops its session and JVM), then wait for
        it and every process it started."""
        if self.server is None:
            return
        tree = common.descendants(self.server.pid)
        self.server.terminate()
        try:
            self.server.wait(timeout=90)
        except subprocess.TimeoutExpired:
            self.server.kill()
            self.server.wait()
        for p in tree:
            try:
                os.kill(p, 9)
            except OSError:
                pass
        common.wait_gone(tree)
        self.log.close()
        self.server = None


def p50_ms(records: list[dict]) -> float:
    return 1000 * common.median([r["latency_s"] for r in records])


def run(run: common.Run) -> tuple[dict, dict]:
    b = ApiBench(run)
    t0 = time.perf_counter()
    try:
        b.start()
        b.wait_ready()
        warm = b.closed_loop(0.0, "w", min_rounds=WARMUP_ROUNDS)
        setup_s = time.perf_counter() - t0
        run.mark("setup")
        t = time.perf_counter()
        records = b.closed_loop(run.seconds, "r")
        wall = time.perf_counter() - t
        run.op_times = [r["latency_s"] for r in sorted(records,
                                                       key=lambda r: r["n"])]
        run.mark("measured")
        rss = common.tree_peak_rss_mb(os.getpid())
        layers: dict = {}
        if run.trace:
            traced = b.closed_loop(run.seconds, "t", trace=True)
            server_spans = b.spans()
            layers["trace.overhead_ms"] = p50_ms(traced) - p50_ms(records)
    finally:
        b.stop()
    run.mark("stopped")
    b.check(warm)
    b.check(records)
    e2e = {"setup_s": setup_s,
           "docs_per_s": len(records) * inputs.API_DOCS_PER_REQUEST / wall,
           "latency_p50_ms": p50_ms(records),
           "peak_rss_mb": rss}
    if run.trace:
        b.check(traced)
        layers.update(api_layers(run, b, traced, server_spans))
    return e2e, layers


def api_layers(run: common.Run, b: ApiBench, traced: list[dict],
               server_spans: list[dict]) -> dict:
    """Server-side check_documents time, the client-seen remainder, and the
    Spark jobs and tasks each request ran, from the server's event log.
    Client request spans and the server spans they caused share a trace id."""
    import pandas as pd

    from kernels import kernel_rates
    from spans import parse_event_log, write_spans

    groups = parse_event_log(run.work / "eventlog")
    client_spans = [{"id": f"c-{r['trace']}", "name": "perfbench.api_request",
                     "parent": None, "trace": r["trace"], "start": r["start"],
                     "end": r["start"] + r["latency_s"],
                     "dur_s": r["latency_s"], "status": r["status"]}
                    for r in traced]
    for s in server_spans:
        if s.get("trace"):
            s["parent"] = f"c-{s['trace']}"
        g = groups.get(s.get("group"), {})
        s["spark"] = {k: g.get(k, 0) for k in ("jobs", "tasks", "task_s")}
    write_spans(run.trace_path, client_spans + server_spans)
    by_trace = {s["trace"]: s for s in server_spans if s.get("trace")}
    matched = [(r, by_trace[r["trace"]]) for r in traced
               if r["trace"] in by_trace]
    med = common.median
    texts = pd.Series([d["text"] for body in b.bodies for d in body])
    return {
        "session.get_spark_s": next(s["dur_s"] for s in server_spans
                                    if s["name"] == "session.get_spark"),
        "jobs.check_one.check_documents_ms":
            1000 * med([s["dur_s"] for _, s in matched]),
        "jobs.api_server.overhead_ms":
            1000 * med([r["latency_s"] - s["dur_s"] for r, s in matched]),
        "jobs.check_one.spark_jobs_per_req":
            med([s["spark"]["jobs"] for _, s in matched]),
        "jobs.check_one.tasks_per_req":
            med([s["spark"]["tasks"] for _, s in matched]),
        **kernel_rates(texts),
    }
