"""HTTP API parity with the reference's quality service
(quality_service.py): health, JSON check, CSV-upload check, error paths.
Uses Flask's test client — the same WSGI app `python jobs/api_server.py`
serves."""

import io

import numpy as np
import pytest

from data_quality_autohealer_spark import synth

flask = pytest.importorskip("flask")


@pytest.fixture(scope="module")
def client(spark):
    from jobs.api_server import create_app
    return create_app(spark).test_client()


def test_health(client):
    r = client.get("/health")
    assert r.status_code == 200
    body = r.get_json()
    assert body["status"] == "healthy"
    assert body["langid_classes"] >= 4
    assert body["perplexity_tokens"] > 0


def test_check_json_documents(client):
    pdf = synth.gen_pages_pdf(np.arange(50))
    r = client.post("/quality/check", json={
        "pipeline_id": "p1",
        "documents": [{"text": t, "lang": lg} for t, lg in
                      zip(pdf["text"].head(6), pdf["lang"].head(6))],
    })
    assert r.status_code == 200
    body = r.get_json()
    assert body["pipeline_id"] == "p1"
    assert body["severity"] in {"critical", "high", "medium", "low"}
    assert len(body["documents"]) == 6
    assert set(body["scores"]) >= {"perplexity", "langid", "toxicity"}


def test_check_csv_upload(client):
    csv_bytes = ("text,lang\n"
                 '"### {} => ~~ @@@",en\n').encode()
    r = client.post("/quality/check", data={
        "file": (io.BytesIO(csv_bytes), "upload42.csv"),
    }, content_type="multipart/form-data")
    assert r.status_code == 200
    body = r.get_json()
    assert body["pipeline_id"] == "upload42"
    assert body["detected_issues"] != ["clean"]
    assert not body["documents"][0]["keep"]


def test_alerts_and_report_endpoints(client, spark, tmp_path):
    from data_quality_autohealer_spark.plans.pipeline import run_filter
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh = Warehouse(spark, str(tmp_path / "apiwh"), num_buckets=4)
    wh.write_pages(synth.gen_pages_df(spark, 300, num_partitions=2))
    run_filter(wh, "api1")
    r = client.get("/report", query_string={"warehouse": wh.root})
    body = r.get_json()
    assert r.status_code == 200 and body["docs_in"] == 300
    assert 0 < body["docs_kept"] < 300 and body["buckets"] == 4
    r2 = client.get("/alerts", query_string={"warehouse": wh.root})
    assert r2.status_code == 200 and isinstance(r2.get_json()["alerts"], list)
    assert client.get("/report").status_code == 400


def test_check_error_paths(client):
    assert client.post("/quality/check", json={}).status_code == 400
    assert client.post("/quality/check",
                       json={"documents": [{"lang": "en"}]}).status_code == 400
    for body in ([{"text": "x"}], {"documents": [{"text": 5}]},
                 {"documents": [{"text": "x", "lang": ["en"]}]}):
        assert client.post("/quality/check", json=body).status_code == 400
    bad_csv = b"notext\nfoo\n"
    r = client.post("/quality/check", data={
        "file": (io.BytesIO(bad_csv), "x.csv"),
    }, content_type="multipart/form-data")
    assert r.status_code == 400


def test_alerts_stream_sse_live_push(client, spark, tmp_path):
    """SSE analogue of the reference's WebSocket broadcaster: a client
    attached to /alerts/stream receives an alert event that lands AFTER the
    stream opened (VERDICT r02 item 4)."""
    import json

    from data_quality_autohealer_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "ssewh"), num_buckets=4)
    rv = client.get("/alerts/stream", query_string={
        "warehouse": wh.root, "poll_sec": "0.05", "max_ticks": "200"})
    assert rv.status_code == 200
    assert rv.mimetype == "text/event-stream"
    it = rv.iter_encoded()
    first = next(it)  # no alerts table yet → heartbeat comment
    assert first.startswith(b": tick")
    # an alert lands while the stream is open
    wh.append_alerts(spark.createDataFrame(
        [("rA", 3, "high", 0.83, "{}")],
        "run_id string, bucket int, severity string, drop_rate double, "
        "payload string"))
    got = None
    for chunk in it:
        if chunk.startswith(b"event: alert"):
            got = chunk
            break
    assert got is not None, "stream never pushed the alert"
    body = json.loads(got.split(b"data: ", 1)[1])
    assert body == {"run_id": "rA", "bucket": 3, "severity": "high",
                    "drop_rate": 0.83}
    rv.close()


def test_alerts_broken_warehouse_is_500_not_empty(client, tmp_path):
    """A genuinely broken alerts table must surface as an error, not as
    'no alerts' (ADVICE r02)."""
    import pathlib
    wh_root = tmp_path / "brokenwh"
    (wh_root / "alerts").mkdir(parents=True)
    (wh_root / "alerts" / "part-0000.parquet").write_bytes(
        b"this is not a parquet file")
    r = client.get("/alerts", query_string={"warehouse": str(wh_root)})
    assert r.status_code == 500
    assert "error" in r.get_json()


def test_alerts_missing_table_is_empty_list(client, tmp_path):
    r = client.get("/alerts",
                   query_string={"warehouse": str(tmp_path / "emptywh")})
    assert r.status_code == 200 and r.get_json()["alerts"] == []


def test_dashboard_page(client):
    """Reference dashboard/index.html analogue: a self-contained browser
    client over the SSE alert stream + pull endpoints (closes VERDICT r03
    missing #3 at the data-consumer level)."""
    r = client.get("/dashboard?warehouse=/tmp/nowh")
    assert r.status_code == 200
    assert r.mimetype == "text/html"
    body = r.get_data(as_text=True)
    assert "EventSource('/alerts/stream" in body
    assert "/report?warehouse=" in body
    # warehouse pre-wired as a JSON-encoded JS string literal
    assert '"/tmp/nowh"' in body


def test_dashboard_escapes_reflected_param(client):
    """The warehouse query param is reflected inside the inline <script>:
    a crafted </script> payload must not break out of the string literal
    (reflected XSS)."""
    evil = "'</script><script>alert(1)</script>"
    r = client.get("/dashboard", query_string={"warehouse": evil})
    body = r.get_data(as_text=True)
    assert "</script><script>alert(1)" not in body
    assert "\\u003c/script" in body  # escaped form present instead


def test_check_rejects_oversized_body(client):
    from jobs.api_server import MAX_CONTENT_LENGTH
    big = "x" * MAX_CONTENT_LENGTH
    r = client.post("/quality/check", json={"documents": [{"text": big}]})
    assert r.status_code == 413 and "error" in r.get_json()
    r = client.post("/quality/check", data={
        "file": (io.BytesIO(b"text\n" + big.encode()), "big.csv"),
    }, content_type="multipart/form-data")
    assert r.status_code == 413 and "error" in r.get_json()


def test_check_rejects_csv_without_documents(client):
    for csv_bytes in (b"text,lang\n", b"", b"notext\n", b"\xff\xfe,\n"):
        r = client.post("/quality/check", data={
            "file": (io.BytesIO(csv_bytes), "empty.csv"),
        }, content_type="multipart/form-data")
        assert r.status_code == 400, csv_bytes
        assert "error" in r.get_json()


def test_check_needs_no_spark_session(monkeypatch, spark):
    """create_app(None) answers /health and /quality/check without ever
    starting Spark; the warehouse endpoints start one on first use."""
    from data_quality_autohealer_spark import session
    from jobs.api_server import create_app

    def no_spark(*a, **k):
        raise AssertionError("get_spark called")

    monkeypatch.setattr(session, "get_spark", no_spark)
    c = create_app(None).test_client()
    assert c.get("/health").status_code == 200
    r = c.post("/quality/check", json={"documents": [
        {"text": "### {} => ~~ @@@", "lang": "und"}]})
    assert r.status_code == 200 and not r.get_json()["documents"][0]["keep"]

    calls = []
    monkeypatch.setattr(session, "get_spark",
                        lambda *a, **k: calls.append(1) or spark)
    c = create_app(None).test_client()
    assert c.get("/health").status_code == 200 and not calls
    for _ in range(2):
        r = c.get("/alerts", query_string={"warehouse": "/nonexistent/wh"})
        assert r.status_code == 200
    assert calls == [1]


def test_alerts_stream_rejects_bad_poll_params(monkeypatch):
    """/alerts/stream answers 400 for a poll_sec that is not a finite
    number >= 0 or a max_ticks that is not an integer >= 0, before any
    SparkSession starts (a NaN, infinite or negative poll_sec used to cut
    the stream after the first tick, and a non-number answered 500)."""
    from data_quality_autohealer_spark import session
    from jobs.api_server import create_app

    def no_spark(*a, **k):
        raise AssertionError("get_spark called")

    monkeypatch.setattr(session, "get_spark", no_spark)
    c = create_app(None).test_client()
    for bad in ({"poll_sec": "abc"}, {"poll_sec": "-1"}, {"poll_sec": "nan"},
                {"poll_sec": "inf"}, {"max_ticks": "x"},
                {"max_ticks": "1.5"}, {"max_ticks": "-2"}):
        r = c.get("/alerts/stream", query_string={"warehouse": "/wh", **bad})
        assert r.status_code == 400, bad
        assert "error" in r.get_json()
