"""Synchronous quality-check HTTP API — the reference's FastAPI service
(/root/reference/src/api/quality_service.py) rebuilt on Flask (the framework
available here) over the identical scorer and rules.

Endpoints (reference parity):
  GET  /            → service banner           (quality_service.py root)
  GET  /health      → model/scorer liveness    (quality_service.py /health)
  POST /quality/check → score documents NOW, in the server process (no
        Spark job); reference-shaped response
        accepts JSON  {"documents": [{"text": ..., "lang": "en"}, ...]}
        or multipart CSV upload (file=<csv with a text[,lang] column>),
        mirroring the reference's CSV-upload contract. Bodies over
        MAX_CONTENT_LENGTH get 413.
  GET  /alerts, /alerts/stream, /report → read a warehouse; the only
        endpoints that need a SparkSession, started on first use.

Run:  [SPARK_GRAFT_MASTER=local[8]] python jobs/api_server.py --port 8099
"""

from __future__ import annotations

import argparse
import io
import math
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# request body cap: a check is scored in the server process, so an upload's
# size bounds the memory and time of one request
MAX_CONTENT_LENGTH = 8 * 1024 * 1024


def create_app(spark=None):
    """The Flask app. ``spark`` is a SparkSession or None; with None, the
    warehouse endpoints start one with ``session.get_spark`` on first use."""
    from flask import Flask, jsonify, request

    from jobs.check_one import check_documents

    app = Flask("dqa-quality-api")
    app.config["MAX_CONTENT_LENGTH"] = MAX_CONTENT_LENGTH
    session_lock = threading.Lock()

    def get_session():
        nonlocal spark
        with session_lock:
            if spark is None:
                from data_quality_autohealer_spark import session
                spark = session.get_spark(app_name="dqa-api")
            return spark

    @app.errorhandler(413)
    def too_large(e):
        return jsonify({"error": "request body over "
                                 f"{MAX_CONTENT_LENGTH} bytes"}), 413

    @app.get("/")
    def root():
        return jsonify({"message": "Data Quality API (PySpark rebuild)",
                        "version": "2.0.0"})

    @app.get("/health")
    def health():
        # liveness = the scorer's models materialize (langid + perplexity
        # train/caches lazily per process)
        from data_quality_autohealer_spark.functions import langid, perplexity
        return jsonify({
            "status": "healthy",
            "detectors_loaded": 2 + 6,  # 2 models + 6 heuristic rules
            "langid_classes": len(langid.get_model().langs),
            "perplexity_tokens": int(perplexity.get_model().total),
        })

    def _read_alert_rows(wh):
        """Alerts rows, treating ONLY a missing alerts table as 'no alerts
        yet' — any other failure (broken path, schema corruption) must
        propagate, not masquerade as an empty feed. The Parquet read pins
        its schema, so a missing table already reads as empty; a missing
        Iceberg table raises."""
        from pyspark.errors import AnalysisException
        try:
            return wh.read_alerts().collect()
        except AnalysisException as e:
            if "TABLE_OR_VIEW_NOT_FOUND" in str(e):
                return []  # clean run with zero alerts writes no table
            raise

    def _alert_payload(r) -> dict:
        return {"run_id": r["run_id"], "bucket": r["bucket"],
                "severity": r["severity"], "drop_rate": r["drop_rate"]}

    @app.get("/alerts")
    def alerts():
        # pull analogue of the reference's WebSocket broadcaster
        # (websocket_server.py); the push analogue is /alerts/stream below
        from data_quality_autohealer_spark.warehouse import Warehouse
        wh_path = request.args.get("warehouse")
        if not wh_path:
            return jsonify({"error": "warehouse query param required"}), 400
        wh = Warehouse(get_session(), wh_path)
        try:
            rows = _read_alert_rows(wh)
        except Exception as e:
            return jsonify({"error": str(e)[:500]}), 500
        return jsonify({"alerts": [_alert_payload(r) for r in rows]})

    @app.get("/alerts/stream")
    def alerts_stream():
        # live-push analogue of the reference's WebSocket broadcaster
        # (src/api/websocket_server.py:73-108, Kafka consume → asyncio
        # broadcast to connected dashboards): Server-Sent Events over the
        # alerts table — each poll tick pushes rows not yet sent on this
        # connection as `event: alert` frames, with an SSE comment heartbeat
        # per empty tick so clients see liveness. The batch-graft equivalent
        # of the Kafka→WS bridge (the alerts table IS the alert topic here,
        # warehouse.py append_alerts).
        import json as _json
        import time as _time

        from flask import Response

        from data_quality_autohealer_spark.warehouse import Warehouse
        wh_path = request.args.get("warehouse")
        if not wh_path:
            return jsonify({"error": "warehouse query param required"}), 400
        try:  # before the session starts; sleep() raises on NaN, inf, < 0
            poll_sec = float(request.args.get("poll_sec", 1.0))
            max_ticks = int(request.args.get("max_ticks", 0))  # 0 = forever
        except ValueError:
            poll_sec = max_ticks = -1
        if not (0 <= poll_sec < math.inf and max_ticks >= 0):
            return jsonify({"error": "poll_sec must be a finite number >= 0 "
                                     "and max_ticks an integer >= 0"}), 400
        wh = Warehouse(get_session(), wh_path)

        def gen():
            # per-connection dedup: keyed on the FULL alert payload (not just
            # run/bucket) so a re-alert for the same bucket with a changed
            # severity or drop_rate is pushed as a fresh event. Keys whose
            # run no longer appears in the table are evicted — the table is
            # append-only, so an absent run can never re-emit (evicting
            # PRESENT runs would re-push them every tick); connection
            # memory therefore tracks the table's current contents, which
            # each tick already materializes anyway.
            seen: dict = {}  # key -> run_id
            tick = 0
            while True:
                tick += 1
                try:
                    rows = _read_alert_rows(wh)
                except Exception as e:
                    yield ("event: error\ndata: "
                           + _json.dumps({"error": str(e)[:500]}) + "\n\n")
                    return
                current_runs = {r["run_id"] for r in rows}
                for k in [k for k, rid in seen.items()
                          if rid not in current_runs]:
                    del seen[k]
                fresh = False
                for r in rows:
                    key = (r["run_id"], r["bucket"],
                           r["severity"], r["drop_rate"])
                    if key in seen:
                        continue
                    seen[key] = r["run_id"]
                    fresh = True
                    yield ("event: alert\ndata: "
                           + _json.dumps(_alert_payload(r)) + "\n\n")
                if not fresh:
                    yield f": tick {tick}\n\n"  # SSE heartbeat comment
                if max_ticks and tick >= max_ticks:
                    yield "event: end\ndata: {}\n\n"
                    return
                _time.sleep(poll_sec)

        return Response(gen(), mimetype="text/event-stream",
                        headers={"Cache-Control": "no-cache",
                                 "X-Accel-Buffering": "no"})

    @app.get("/dashboard")
    def dashboard():
        # browser client for the live feed — the reference's dashboard/
        # index.html (WebSocket UI over ws://.../ws/quality) rebuilt as a
        # dependency-free single page over THIS service's SSE stream +
        # pull endpoints. Server-rendered template string: no static-file
        # serving, no build step, works from `python jobs/api_server.py`.
        import json as _json

        from flask import Response as _Resp
        wh = request.args.get("warehouse", "")
        # reflected value is embedded inside the inline <script>: JSON-
        # encode it as a JS string literal and escape '<' so a crafted
        # '</script>' in the query param cannot terminate the block (XSS)
        wh_js = _json.dumps(wh).replace("<", "\\u003c")
        html = """<!doctype html>
<html><head><meta charset="utf-8">
<title>Data Quality Dashboard (PySpark rebuild)</title>
<style>
 body{font-family:system-ui,sans-serif;margin:2rem;max-width:60rem}
 table{border-collapse:collapse;width:100%}
 th,td{border:1px solid #ccc;padding:.3rem .6rem;text-align:left}
 .sev-high{background:#fdd}.sev-medium{background:#ffd}
 #status{color:#666;font-size:.9rem}
</style></head><body>
<h1>Data Quality Dashboard</h1>
<p id="totals">loading totals…</p>
<h2>Live alerts</h2>
<p id="status">connecting…</p>
<table><thead><tr><th>run</th><th>bucket</th><th>severity</th>
<th>drop rate</th></tr></thead><tbody id="alerts"></tbody></table>
<script>
 const wh = new URLSearchParams(location.search).get('warehouse') || %WH%;
 fetch('/report?warehouse=' + encodeURIComponent(wh))
   .then(r => r.json())
   .then(t => { document.getElementById('totals').textContent =
     `buckets ${t.buckets} · docs in ${t.docs_in} · kept ${t.docs_kept}`; })
   .catch(e => { document.getElementById('totals').textContent =
     'report unavailable: ' + e; });
 const es = new EventSource('/alerts/stream?warehouse='
                            + encodeURIComponent(wh));
 es.addEventListener('alert', ev => {
   const a = JSON.parse(ev.data);
   const tr = document.createElement('tr');
   tr.className = 'sev-' + a.severity;
   for (const v of [a.run_id, a.bucket, a.severity, a.drop_rate]) {
     const td = document.createElement('td');
     td.textContent = v; tr.appendChild(td);
   }
   document.getElementById('alerts').prepend(tr);
   document.getElementById('status').textContent = 'live';
 });
 es.onopen = () =>
   document.getElementById('status').textContent = 'connected';
 es.onerror = () =>
   document.getElementById('status').textContent = 'disconnected';
</script></body></html>"""
        return _Resp(html.replace("%WH%", wh_js), mimetype="text/html")

    @app.get("/report")
    def report():
        from pyspark.sql import functions as SF
        from data_quality_autohealer_spark.warehouse import Warehouse
        wh_path = request.args.get("warehouse")
        if not wh_path:
            return jsonify({"error": "warehouse query param required"}), 400
        m = Warehouse(get_session(), wh_path).read_metrics()
        run_id = request.args.get("run_id")
        if run_id:
            m = m.where(SF.col("run_id") == run_id)
        t = m.agg(SF.count(SF.lit(1)).alias("buckets"),
                  SF.sum("docs_in").alias("docs_in"),
                  SF.sum("docs_kept").alias("docs_kept")).collect()[0]
        return jsonify({"buckets": t["buckets"],
                        "docs_in": t["docs_in"] or 0,
                        "docs_kept": t["docs_kept"] or 0})

    @app.post("/quality/check")
    def quality_check():
        texts: list[str] = []
        langs: list[str] = []
        pipeline_id = "adhoc"
        if request.files.get("file"):
            import csv
            f = request.files["file"]
            pipeline_id = (f.filename or "upload.csv").rsplit(".", 1)[0]
            reader = csv.DictReader(
                io.TextIOWrapper(f.stream, encoding="utf-8"))
            try:
                if "text" not in (reader.fieldnames or ()):
                    return jsonify({"error": "CSV needs a 'text' column"}), 400
                for row in reader:
                    if row["text"] is None:
                        return jsonify({"error": "each CSV row needs a "
                                                 "text value"}), 400
                    texts.append(row["text"])
                    langs.append(row.get("lang") or "en")
            except (UnicodeDecodeError, csv.Error) as e:
                return jsonify({"error": f"unreadable CSV: {e}"[:500]}), 400
            if not texts:
                return jsonify({"error": "CSV has no documents"}), 400
        else:
            body = request.get_json(silent=True)
            docs = body.get("documents") if isinstance(body, dict) else None
            if not isinstance(docs, list) or not docs:
                return jsonify({"error": "provide documents: [{text, lang?}] "
                                         "or a multipart CSV 'file'"}), 400
            for d in docs:
                if not isinstance(d, dict) or not isinstance(d.get("text"),
                                                             str):
                    return jsonify({"error": "each document needs text"}), 400
                lang = d.get("lang") or "en"
                if not isinstance(lang, str):
                    return jsonify({"error": "lang must be a string"}), 400
                texts.append(d["text"])
                langs.append(lang)
            pipeline_id = body.get("pipeline_id", pipeline_id)
        resp = check_documents(texts, langs, pipeline_id)
        return jsonify(resp)

    return app


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--port", type=int, default=8099)
    p.add_argument("--host", default="127.0.0.1")
    args = p.parse_args()
    create_app(None).run(host=args.host, port=args.port)


if __name__ == "__main__":
    main()
