"""HTTP API surface (victoriametrics_spark/api): Prometheus JSON shapes
over the Spark engine (prometheus.go:767,925 analogs)."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from victoriametrics_spark.api import PromAPI, serve
from victoriametrics_spark.schema import SAMPLE_SCHEMA

T0 = 1_000_000


@pytest.fixture(scope="module")
def api(spark):
    rows = []
    for i, ts in enumerate(range(0, 2_100_000, 100_000)):
        rows.append(("http_requests_total", {"job": "a", "code": "200"}, ts, float(10 * i), False))
        rows.append(("http_requests_total", {"job": "b", "code": "500"}, ts, float(i), False))
        rows.append(("temp", {"room": "x"}, ts, 20.0 + i, False))
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    return PromAPI(spark, df)


@pytest.mark.slow
def test_query_range_matrix_shape(api):
    out = api.query_range(
        'sum(rate(http_requests_total[400s])) by (job)',
        start="1000", end="2000", step="200",
    )
    assert out["status"] == "success"
    assert out["data"]["resultType"] == "matrix"
    result = out["data"]["result"]
    assert {tuple(sorted(r["metric"].items())) for r in result} == {
        (("job", "a"),),
        (("job", "b"),),
    }
    ts_list = [v[0] for v in result[0]["values"]]
    assert ts_list == [1000.0, 1200.0, 1400.0, 1600.0, 1800.0, 2000.0]
    # values serialized as strings
    assert all(isinstance(v[1], str) for v in result[0]["values"])


def test_instant_query_vector(api):
    out = api.query("last_over_time(temp[400s])", time="1500")
    assert out["data"]["resultType"] == "vector"
    (r,) = out["data"]["result"]
    assert r["metric"] == {"room": "x", "__name__": "temp"}
    assert r["value"][0] == 1500.0
    # value at/before 1500s → sample @1.5Ms = 20 + 15
    assert float(r["value"][1]) == 35.0


def test_series_and_labels(api):
    # fixture samples live at ts 0..2.1Ms — anchor "now" there so the
    # labels-API default [now - 5m, now] day-granular window covers them
    anchor = 2_000_000
    out = api.series(['{__name__=~"http_requests_total"}'], now_ms=anchor)
    assert sorted(m["job"] for m in out["data"]) == ["a", "b"]
    labs = api.labels(now_ms=anchor)
    assert {"__name__", "job", "code", "room"} <= set(labs["data"])
    vals = api.label_values("job", now_ms=anchor)
    assert vals["data"] == ["a", "b"]
    names = api.label_values("__name__", now_ms=anchor)
    assert names["data"] == ["http_requests_total", "temp"]


def test_export_jsonl_round_trip(api):
    lines = list(api.export_jsonl(["temp"]))
    assert len(lines) == 1
    obj = json.loads(lines[0])
    assert obj["metric"] == {"__name__": "temp", "room": "x"}
    assert len(obj["values"]) == len(obj["timestamps"]) == 21
    assert obj["timestamps"] == sorted(obj["timestamps"])


def test_federate_latest_points(api):
    # fixture's last sample is at ts=2,000,000 — anchor "now" there so
    # the default [now - 5m, now] federate window includes it
    lines = api.federate(["temp"], now_ms=2_000_000)
    assert len(lines) == 1
    assert lines[0].startswith('temp{room="x"} 40 2000000')


def test_federate_lookback_staleness(api):
    """FederateHandler's default range is [end - lookback, end]
    (prometheus.go:120-129): a series whose last sample predates the
    lookback does NOT federate; a wider max_lookback or explicit
    start/end brings it back."""
    # "now" 10 minutes past the last sample, default 5m lookback: stale
    assert api.federate(["temp"], now_ms=2_600_000) == []
    # widening the lookback to 15m reaches the sample again
    lines = api.federate(
        ["temp"], lookback_ms=900_000, now_ms=2_600_000
    )
    assert len(lines) == 1 and lines[0].startswith('temp{room="x"} 40')
    # explicit range bypasses the lookback default entirely
    lines = api.federate(["temp"], start="0", end="3000")
    assert len(lines) == 1


def test_http_server_round_trip(api):
    srv = serve(api, port=0)  # ephemeral port
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = (
            f"http://127.0.0.1:{port}/api/v1/query_range"
            "?query=last_over_time(temp%5B400s%5D)&start=1000&end=2000&step=500"
        )
        with urllib.request.urlopen(url) as resp:
            body = json.loads(resp.read())
        assert body["status"] == "success"
        assert body["data"]["result"][0]["metric"]["__name__"] == "temp"

        bad = f"http://127.0.0.1:{port}/api/v1/query?query=nosuchfunc(1"
        try:
            urllib.request.urlopen(bad)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 422
            err = json.loads(e.read())
            assert err["status"] == "error"

        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/v1/labels"
        ) as resp:
            labs = json.loads(resp.read())
        assert "__name__" in labs["data"]
    finally:
        srv.shutdown()


def test_export_jsonl_plan_is_jvm_side(api):
    """The export line must be fully built by a Spark aggregate (one
    output row per series) — no per-sample driver collect."""
    df = api.export_jsonl_df(["temp"])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "StructsToJson" in plan and "Aggregate" in plan
    rows = df.collect()
    assert len(rows) == 1  # presentation-sized: one row per series


def test_graphite_render_endpoint(api):
    out = api.render(
        "sumSeries(seriesByTag('job=a'))",
        start="0", end="2000", step="500",
    )
    assert len(out) == 1
    s = out[0]
    assert s["target"].startswith("sumSeries(")
    assert s["tags"]["name"].startswith("sumSeries(")
    # 4 grid points at 500s step over [0, 2000)
    assert len(s["datapoints"]) == 4
    ts_list = [p[1] for p in s["datapoints"]]
    assert ts_list == [0, 500, 1000, 1500]
    # job=a series: 10*i at i per 100s → avg of 5 samples per bucket
    assert s["datapoints"][0][0] == pytest.approx(sum(10.0 * i for i in range(5)) / 5)


def test_graphite_render_plain_name(api):
    out = api.render("highestCurrent(temp;*, 1)", "0", "2000", "500")
    assert len(out) == 1
    assert out[0]["tags"]["room"] == "x"


# ------------------------------------------------------------- LogsAPI
@pytest.fixture(scope="module")
def logs_api(spark):
    from datetime import datetime

    from victoriametrics_spark.api import LogsAPI

    rows = [
        (datetime(2024, 1, 1, 0, 5), "error user=1", "error", 1, 10.0),
        (datetime(2024, 1, 1, 1, 0), "signup user=2", "signup", 2, 20.0),
        (datetime(2024, 1, 2, 2, 0), "error user=2", "error", 2, 30.0),
        (datetime(2024, 1, 2, 3, 0), "error user=3", "error", 3, 50.0),
    ]
    df = spark.createDataFrame(
        rows, ["_time", "_msg", "event_type", "user_id", "value"]
    )
    return LogsAPI(spark, df)


def test_logsql_query_jsonl(logs_api):
    lines = list(
        logs_api.query("error | fields event_type, user_id", limit=10)
    )
    assert len(lines) == 3
    assert all(json.loads(x)["event_type"] == "error" for x in lines)


def test_logsql_hits(logs_api):
    out = logs_api.hits("error", step="1d")
    assert len(out["hits"]) == 1
    g = out["hits"][0]
    assert g["values"] == [1, 2]
    assert len(g["timestamps"]) == 2
    by_field = logs_api.hits("*", step="1d", fields=["event_type"])
    assert {h["fields"]["event_type"] for h in by_field["hits"]} == {
        "error", "signup",
    }


def test_logsql_stats_query(logs_api):
    out = logs_api.stats_query(
        "* | stats by (event_type) count() as n, sum(value) as s"
    )
    assert out["data"]["resultType"] == "vector"
    res = out["data"]["result"]
    names = {(r["metric"]["__name__"], r["metric"]["event_type"]) for r in res}
    assert ("n", "error") in names and ("s", "signup") in names
    err_n = [
        r for r in res
        if r["metric"] == {"__name__": "n", "event_type": "error"}
    ][0]
    assert err_n["value"][1] == "3"
    with pytest.raises(ValueError):
        logs_api.stats_query("error | limit 5")


def test_logsql_facets_fields(logs_api):
    out = logs_api.facets("*")
    by_name = {f["field_name"]: f["values"] for f in out["facets"]}
    assert {"_msg", "event_type", "user_id", "value"} <= set(by_name)
    ev = {v["field_value"]: v["hits"] for v in by_name["event_type"]}
    assert ev == {"error": 3, "signup": 1}
    names = logs_api.field_names("*")
    assert {n["value"] for n in names["names"]} >= {"event_type", "user_id"}
    vals = logs_api.field_values("*", "event_type")
    assert {v["value"]: v["hits"] for v in vals["values"]} == {
        "error": 3, "signup": 1,
    }


def test_logsql_http_endpoints(api, logs_api):
    srv = serve(api, port=0, logs_api=logs_api)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = (
            f"http://127.0.0.1:{port}/select/logsql/query"
            "?query=error%20%7C%20fields%20user_id&limit=5"
        )
        with urllib.request.urlopen(url) as resp:
            lines = resp.read().decode().splitlines()
        assert len(lines) == 3

        url = (
            f"http://127.0.0.1:{port}/select/logsql/stats_query"
            "?query=*%20%7C%20stats%20count()%20as%20n"
        )
        with urllib.request.urlopen(url) as resp:
            body = json.loads(resp.read())
        assert body["data"]["result"][0]["value"][1] == "4"

        url = (
            f"http://127.0.0.1:{port}/select/logsql/hits"
            "?query=*&step=1d&field=event_type"
        )
        with urllib.request.urlopen(url) as resp:
            body = json.loads(resp.read())
        assert len(body["hits"]) == 2
    finally:
        srv.shutdown()


def test_tsdb_status(api):
    # default `date` = today — anchor to the fixture's day (1970-01-01)
    out = api.tsdb_status(topn=5, now_ms=2_000_000)
    d = out["data"]
    # fixture: 2 http_requests_total series + 1 temp series
    assert d["totalSeries"] == 3
    by_metric = {e["name"]: e["value"] for e in d["seriesCountByMetricName"]}
    assert by_metric == {"http_requests_total": 2, "temp": 1}
    by_label = {e["name"]: e["value"] for e in d["seriesCountByLabelName"]}
    assert by_label["__name__"] == 3
    assert by_label["job"] == 2 and by_label["room"] == 1
    by_pair = {e["name"]: e["value"] for e in d["seriesCountByLabelValuePair"]}
    assert by_pair["__name__=http_requests_total"] == 2
    assert by_pair["job=a"] == 1
    vals = {e["name"]: e["value"] for e in d["labelValueCountByLabelName"]}
    assert vals["job"] == 2 and vals["code"] == 2
    # focusLabel + match[] narrowing
    focused = api.tsdb_status(
        topn=5, focus_label="job", match=["http_requests_total"],
        now_ms=2_000_000,
    )["data"]
    assert focused["totalSeries"] == 2
    fv = {e["name"]: e["value"] for e in focused["seriesCountByFocusLabelValue"]}
    assert fv == {"a": 1, "b": 1}


def test_rules_and_alerts_endpoints(spark):
    from victoriametrics_spark.rules import AlertingRule, RecordingRule

    # temp series: values rise over time; alert on temp > 25 for 10 min
    rows = []
    for i, ts in enumerate(range(0, 3_600_000 + 1, 300_000)):
        rows.append(("temp", {"room": "x"}, ts, 20.0 + i, False))
        rows.append(("temp", {"room": "y"}, ts, 10.0, False))
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    groups = [
        (
            "g1",
            [
                RecordingRule("temp:avg", "avg(temp)", {"rule": "r1"}),
                AlertingRule(
                    "HotRoom",
                    "temp > 25",
                    for_ms=600_000,
                    labels={"severity": "page"},
                    annotations={"summary": "room is hot"},
                ),
            ],
        )
    ]
    api2 = PromAPI(spark, df, rule_groups=groups)

    rules = api2.rules()["data"]["groups"]
    assert rules[0]["name"] == "g1"
    kinds = {r["type"] for r in rules[0]["rules"]}
    assert kinds == {"recording", "alerting"}
    alerting = [r for r in rules[0]["rules"] if r["type"] == "alerting"][0]
    assert alerting["duration"] == 600.0

    # at t=3.6e6 temp(x)=32 has been >25 since i=6 (t=1.8e6) → firing
    out = api2.alerts(time="3600")["data"]["alerts"]
    assert len(out) == 1
    a = out[0]
    assert a["labels"]["alertname"] == "HotRoom"
    assert a["labels"]["room"] == "x"
    assert a["labels"]["severity"] == "page"
    assert a["state"] == "firing"


# ------------------------------------------------------------ IngestAPI
def test_prometheus_import_counts_rows_once(spark):
    """A 2000-line Prometheus-text import into a table counts the parsed
    frame once: the invalid-line check's count is also the written-row
    count when no step drops rows in between. The import that counted
    the frame again before the append ran 7 jobs for this batch; this
    one runs 5."""
    from victoriametrics_spark.api.http import IngestAPI
    from victoriametrics_spark.storage.layout import drop_samples_table

    def body(t0):
        return "\n".join(
            f'm_import{{s="{i % 200}",k="{i // 200}"}} {float(i)} {t0 + i}'
            for i in range(2000)
        )

    drop_samples_table(spark, "t_import_jobs")
    ing = IngestAPI(spark, samples_table="t_import_jobs")
    try:
        assert ing.import_lines(body(1_704_067_200_000), "prometheus") == 2000
        sc = spark.sparkContext
        group = "prometheus-import-job-count"
        sc.setJobGroup(group, "warm 2000-line Prometheus import", False)
        try:
            n = ing.import_lines(body(1_704_067_300_000), "prometheus")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n == 2000
        assert ing.rows_invalid_total.get("prometheus", 0) == 0
        assert 0 < jobs <= 7 - 2, jobs
        assert spark.table("t_import_jobs").count() == 4000
    finally:
        drop_samples_table(spark, "t_import_jobs")


@pytest.mark.slow
def test_ingest_endpoints(spark, api):
    from victoriametrics_spark.api.http import IngestAPI
    from victoriametrics_spark.streaming.remotewrite import (
        encode_write_request,
    )

    collected = {}

    def sink(df, kind):
        collected.setdefault(kind, []).extend(df.collect())

    ing = IngestAPI(spark, sink=sink)
    srv = serve(api, port=0, ingest_api=ing)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        def post(path, body, ctype="text/plain"):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=body if isinstance(body, bytes) else body.encode(),
                method="POST",
                headers={"Content-Type": ctype},
            )
            return urllib.request.urlopen(req).status

        # prometheus text
        assert post(
            "/api/v1/import/prometheus?timestamp=1704067200000",
            'up{job="a"} 1\nhttp_total{job="a"} 5 1704067201000\n',
        ) == 204
        # influx line
        assert post(
            "/influx/write", "cpu,host=h1 usage=0.5 1704067200000000000\n"
        ) == 204
        # remote write protobuf+snappy
        body = encode_write_request(
            [({"__name__": "rw_metric", "job": "b"}, [(1704067200000, 42.0)])]
        )
        assert post("/api/v1/write", body, "application/x-protobuf") == 204
        # OTLP via AWS Firehose envelope: protocol header switches the
        # body processor, request-id header gets the JSON ack
        # (request_handler.go:37-38, firehose/http.go ResponseWriter)
        import base64 as _b64

        def _ld(field, payload):
            out = bytearray()
            for x in (field << 3 | 2, len(payload)):
                while True:
                    b7 = x & 0x7F
                    x >>= 7
                    out.append(b7 | 0x80 if x else b7)
                    if not x:
                        break
            return bytes(out) + payload

        import struct as _struct

        point = (
            bytes([3 << 3 | 1]) + _struct.pack("<Q", 20 * 10**9)
            + bytes([4 << 3 | 1]) + _struct.pack("<d", 7.0)
        )
        metric = _ld(1, b"fh_gauge") + _ld(5, _ld(1, point))
        otlp_pb = _ld(1, _ld(2, _ld(2, metric)))
        rec = len(otlp_pb).to_bytes(1, "little") + otlp_pb
        envelope = json.dumps(
            {"requestId": "req-1", "timestamp": 1,
             "records": [{"data": _b64.b64encode(rec).decode()}]}
        )
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/opentelemetry/v1/metrics",
            data=envelope.encode(),
            method="POST",
            headers={
                "Content-Type": "application/json",
                "X-Amz-Firehose-Protocol-Version": "1.0",
                "X-Amz-Firehose-Request-Id": "req-1",
            },
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
            ack = json.loads(resp.read())
            assert ack["requestId"] == "req-1" and "timestamp" in ack
        fh_rows = [
            r for r in collected.get("samples", [])
            if r["name"] == "fh_gauge"
        ]
        assert len(fh_rows) == 1
        assert fh_rows[0]["value"] == 7.0 and fh_rows[0]["ts"] == 20000

        # logs: jsonline + loki
        assert post(
            "/insert/jsonline",
            '{"_time":"2024-01-01T00:00:00Z","_msg":"hello","app":"x"}\n',
        ) == 204
        assert post(
            "/insert/loki/api/v1/push",
            '{"streams":[{"stream":{"app":"y"},"values":[["1704067200000000000","line1"]]}]}',
            "application/json",
        ) == 204
        # unknown → 404
        try:
            post("/insert/nope", "x")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.shutdown()

    samples = collected["samples"]
    names = {r["name"] for r in samples}
    assert {"up", "http_total", "cpu_usage", "rw_metric"} <= names or \
           {"up", "http_total", "rw_metric"} <= names
    logs = collected["logs"]
    assert {r["_msg"] for r in logs} == {"hello", "line1"}


@pytest.mark.slow
def test_graphite_browse_api(spark):
    from victoriametrics_spark.api.http import GraphiteBrowseAPI

    rows = [
        ("app.web.requests", {"dc": "eu", "env": "prod"}, 0, 1.0, False),
        ("app.web.errors", {"dc": "us", "env": "prod"}, 0, 1.0, False),
        ("app.db.queries", {"dc": "eu"}, 0, 1.0, False),
        ("uptime", {}, 0, 1.0, False),
    ]
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    b = GraphiteBrowseAPI(spark, df)

    top = b.metrics_find("*")
    assert {(e["text"], e["leaf"]) for e in top} == {("app", 0), ("uptime", 1)}
    lvl2 = b.metrics_find("app.*")
    assert {(e["text"], e["expandable"]) for e in lvl2} == {("web", 1), ("db", 1)}
    lvl3 = b.metrics_find("app.web.*")
    assert {e["text"] for e in lvl3} == {"requests", "errors"}
    assert all(e["leaf"] == 1 for e in lvl3)

    assert b.tags_autocomplete_tags() == ["dc", "env", "name"]
    assert b.tags_autocomplete_tags(prefix="e") == ["env"]
    assert b.tags_autocomplete_values("dc") == ["eu", "us"]
    assert b.tags_autocomplete_values("name", prefix="app.w") == [
        "app.web.errors", "app.web.requests",
    ]

    s = b.tags_find_series(["dc=eu"])
    assert s == ["app.db.queries;dc=eu", "app.web.requests;dc=eu;env=prod"]
    s = b.tags_find_series(["env=prod", "name=~app\\.web\\..*"])
    assert len(s) == 2
    s = b.tags_find_series(["dc!=eu"])
    assert s == ["app.web.errors;dc=us;env=prod", "uptime"]


def test_query_range_with_result_cache(spark, tmp_path):
    rows = []
    for i, ts in enumerate(range(0, 2_100_000, 100_000)):
        rows.append(("m", {"s": "a"}, ts, float(i), False))
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    capi = PromAPI(spark, df, cache_dir=str(tmp_path / "rrc"))

    cold = capi.query_range("avg_over_time(m[300s])", "300", "1200", "300")
    assert capi.cache.stats["mode"] == "miss"
    # extend the range: prefix reused, only the suffix recomputed
    warm = capi.query_range("avg_over_time(m[300s])", "300", "1800", "300")
    assert capi.cache.stats["mode"] == "hit_partial"
    vals = {v[0]: v[1] for v in warm["data"]["result"][0]["values"]}
    plain = PromAPI(spark, df).query_range(
        "avg_over_time(m[300s])", "300", "1800", "300"
    )
    assert warm["data"]["result"] == plain["data"]["result"]
    # full-hit repeat
    again = capi.query_range("avg_over_time(m[300s])", "300", "1800", "300")
    assert capi.cache.stats["mode"] == "hit_full"
    assert again["data"]["result"] == plain["data"]["result"]


def test_prom_api_plan_cache(api):
    """Repeated identical query_range calls reuse the constructed plan
    via the ENGINE-level LRU (engine/plancache.py — VM's parse-cache
    analog, moved below the API layer in round 8) and return identical
    results; now()-dependent queries are never cached."""
    from victoriametrics_spark.engine.plancache import GLOBAL_PLAN_CACHE

    GLOBAL_PLAN_CACHE.clear()
    GLOBAL_PLAN_CACHE.stats.update(hits=0, misses=0, bypass=0)
    q = "sum(rate(http_requests_total[2m])) by (job)"
    a = api.query_range(q, "1000", "2000", "200")
    assert GLOBAL_PLAN_CACHE.stats["misses"] == 1
    b = api.query_range(q, "1000", "2000", "200")
    assert GLOBAL_PLAN_CACHE.stats["hits"] == 1  # reused, not re-planned
    assert a == b
    # whitespace-insensitive: the canonical AST is the key
    api.query_range("sum( rate(http_requests_total[2m]) ) by (job)",
                    "1000", "2000", "200")
    assert GLOBAL_PLAN_CACHE.stats["hits"] == 2
    api.query_range("now()", "1000", "2000", "200")
    assert GLOBAL_PLAN_CACHE.stats["bypass"] >= 1  # now() excluded


def test_export_csv(api):
    """/api/v1/export/csv field semantics (export.qtpl exportCSVField):
    __name__/__value__/__timestamp__ variants and label columns."""
    lines = list(api.export_csv(
        ["temp"], "__name__,room,__value__,__timestamp__:unix_s"
    ))
    assert lines[0] == "__name__,room,__value__,__timestamp__:unix_s"
    # streamed export has no cross-row order guarantee — sort here
    data = sorted(lines[1:], key=lambda x: int(x.rsplit(",", 1)[1]))
    assert data[0] == "temp,x,20,0"
    assert len(lines) == 22  # header + 21 samples
    # integer-valued floats print without a trailing .0 (Go %f parity);
    # unix_ms is the default timestamp form
    ms = sorted(
        list(api.export_csv(["temp"], "__value__,__timestamp__"))[1:],
        key=lambda x: int(x.rsplit(",", 1)[1]),
    )
    assert ms[0] == "20,0"


def test_export_csv_quoting(spark):
    from victoriametrics_spark.schema import SAMPLE_SCHEMA as S

    df = spark.createDataFrame(
        [("m", {"note": 'say "hi", ok'}, 1000, 1.5, False)], S
    )
    a = PromAPI(spark, df)
    lines = list(a.export_csv(["m"], "note,__value__"))
    assert lines[1] == '"say ""hi"", ok",1.5'


def test_export_native_parquet_round_trip(api, spark, tmp_path):
    """Native export = parquet bytes; reading them back yields the
    original samples."""
    blob = api.export_native(["temp"])
    f = tmp_path / "native.parquet"
    f.write_bytes(blob)
    back = spark.read.parquet(str(f))
    assert back.count() == 21
    assert set(back.columns) == {"name", "labels", "ts", "value"}
    assert back.filter("name = 'temp'").count() == 21


def test_status_tail_endpoints(api):
    sc = api.series_count()
    assert sc == {"status": "success", "data": [3]}
    assert api.metadata() == {"status": "success", "data": {}}
    assert api.buildinfo()["data"]["version"]
    assert api.query_exemplars() == {"status": "success", "data": []}

    api._query_stats.clear()
    api.query_range("sum(temp)", "1000", "2000", "500")
    api.query_range("sum(temp)", "1000", "2000", "500")
    api.query("temp", time="1500")
    top = api.top_queries()
    by_count = {e["query"]: e["count"] for e in top["topByCount"]}
    assert by_count["sum(temp)"] == 2
    assert all(
        e["sumDurationSeconds"] >= e["avgDurationSeconds"] > 0
        for e in top["topBySumDuration"]
    )
    # nothing executing between calls
    assert api.active_queries() == {"status": "ok", "data": []}


def test_metrics_expand(spark):
    from victoriametrics_spark.api.http import GraphiteBrowseAPI

    rows = [
        ("app.web.requests", {}, 0, 1.0, False),
        ("app.web.errors", {}, 0, 1.0, False),
        ("app.db.queries", {}, 0, 1.0, False),
        ("uptime", {}, 0, 1.0, False),
    ]
    b = GraphiteBrowseAPI(spark, spark.createDataFrame(rows, SAMPLE_SCHEMA))
    # non-leaf matches carry a trailing dot (metrics_api.go flat form)
    assert b.metrics_expand(["*"]) == ["app.", "uptime"]
    assert b.metrics_expand(["app.*"]) == ["app.db.", "app.web."]
    assert b.metrics_expand(["app.web.*"]) == [
        "app.web.errors",
        "app.web.requests",
    ]
    # union over several query args, leavesOnly filter
    assert b.metrics_expand(["*", "app.*"], leaves_only=True) == ["uptime"]
    # segment-exact: `app.db` must not match `app.dbx`
    assert b.metrics_expand(["app.db"]) == ["app.db."]


def test_delete_series_route(spark):
    """/api/v1/admin/tsdb/delete_series over a table-backed PromAPI:
    delete → gone from queries; other series unaffected."""
    from victoriametrics_spark.schema import samples_from_columns
    from victoriametrics_spark.storage import (
        drop_samples_table,
        read_samples_table,
        write_samples_table,
    )

    rows = [(s, T0 + i * 100_000, float(i)) for s in ("a", "b") for i in range(10)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    samples = samples_from_columns(
        df, name="m", label_cols={"s": "series"}, ts="ts", value="value"
    )
    write_samples_table(samples, "t_api_del", n_buckets=2)
    try:
        a = PromAPI(
            spark,
            read_samples_table(spark, "t_api_del"),
            samples_table="t_api_del",
        )
        assert a.series_count()["data"] == [2]
        out = a.delete_series(['m{s="a"}'])
        assert out == {"status": "success", "deleted_series": 1}
        assert a.series_count()["data"] == [1]
        res = a.query_range("m", str(T0 // 1000), str(T0 // 1000 + 900), "100")
        assert {r["metric"]["s"] for r in res["data"]["result"]} == {"b"}
    finally:
        drop_samples_table(spark, "t_api_del")


def test_delete_series_resets_result_cache(spark, tmp_path):
    """ADVICE r9 (high): delete_series must reset the result caches —
    the reference's delete handler calls promql.ResetRollupResultCache
    (prometheus.go:527). Without it, a cached range keeps serving the
    deleted series from parquet under cache_dir."""
    from victoriametrics_spark.schema import samples_from_columns
    from victoriametrics_spark.storage import (
        drop_samples_table,
        read_samples_table,
        write_samples_table,
    )

    rows = [
        (s, T0 + i * 100_000, float(i)) for s in ("a", "b") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    samples = samples_from_columns(
        df, name="m", label_cols={"s": "series"}, ts="ts", value="value"
    )
    write_samples_table(samples, "t_api_delc", n_buckets=2)
    try:
        a = PromAPI(
            spark,
            read_samples_table(spark, "t_api_delc"),
            samples_table="t_api_delc",
            cache_dir=str(tmp_path / "delc"),
        )
        # explicit-window leaf: segment-CACHEABLE (a bare `m` is an
        # implicit default_rollup and strictly bypasses since r10)
        args = (
            "last_over_time(m[200s])",
            str(T0 // 1000), str(T0 // 1000 + 900), "100",
        )
        res = a.query_range(*args)
        assert {r["metric"]["s"] for r in res["data"]["result"]} == {"a", "b"}
        assert a.cache.stats["mode"] == "miss"

        a.delete_series(['m{s="a"}'])
        # the same range query must NOT serve the cached result
        res = a.query_range(*args)
        assert {r["metric"]["s"] for r in res["data"]["result"]} == {"b"}
    finally:
        drop_samples_table(spark, "t_api_delc")


def test_metrics_expand_full_glob(spark):
    """ADVICE r9: /metrics/expand must support full graphite glob
    syntax — braces and char ranges, not just '*' (reference
    MetricsExpandHandler; shared converter graphite_glob_to_regex)."""
    from victoriametrics_spark.api.http import GraphiteBrowseAPI

    rows = [
        ("app.web.requests", {}, 0, 1.0, False),
        ("app.db.queries", {}, 0, 1.0, False),
        ("app.cache.hits", {}, 0, 1.0, False),
        ("node1.cpu", {}, 0, 1.0, False),
        ("node2.cpu", {}, 0, 1.0, False),
        ("node10.cpu", {}, 0, 1.0, False),
    ]
    b = GraphiteBrowseAPI(spark, spark.createDataFrame(rows, SAMPLE_SCHEMA))
    assert b.metrics_expand(["app.{web,db}.*"]) == [
        "app.db.queries",
        "app.web.requests",
    ]
    assert b.metrics_expand(["node[0-9].cpu"]) == ["node1.cpu", "node2.cpu"]
    assert b.metrics_expand(["node?.cpu"]) == ["node1.cpu", "node2.cpu"]
    assert b.metrics_expand(["node1?.cpu"]) == ["node10.cpu"]
    # brace alternative containing the delimiter keeps depth exact
    assert b.metrics_expand(["{app.web,node1}.*"]) == [
        "app.web.requests",
        "node1.cpu",
    ]
    # metrics_find with braces
    found = {r["text"] for r in b.metrics_find("app.{web,cache}.*")}
    assert found == {"requests", "hits"}
    # metrics/index.json: every name, sorted
    assert b.metrics_index() == sorted(r[0] for r in rows)


def test_prettify_and_expand_with_exprs(api):
    out = api.prettify_query('sum( rate(http_requests_total [5m] ) )by(job)')
    assert out["status"] == "success"
    assert out["query"] == "sum(rate(http_requests_total[5m])) by (job)"
    out = api.expand_with_exprs(
        'WITH (f(x) = rate(x[5m])) sum(f(http_requests_total)) by (job)'
    )
    assert out["status"] == "success"
    assert out["expr"] == "sum(rate(http_requests_total[5m])) by (job)"
    # parse errors surface as status=error, not a 500
    bad = api.prettify_query("sum(")
    assert bad["status"] == "error"


def test_metric_names_stats_route(spark):
    rows = [
        ("m_one", {"a": "1"}, ts, 1.0, False) for ts in range(0, 600_000, 100_000)
    ] + [("m_two", {"a": "1"}, ts, 2.0, False) for ts in range(0, 600_000, 100_000)]
    a = PromAPI(spark, spark.createDataFrame(rows, SAMPLE_SCHEMA))
    a.query_range("rate(m_one[2m])", "0", "600", "60")
    a.query_range("rate(m_one[2m]) / rate(m_two[2m])", "0", "600", "60")
    out = a.metric_names_stats()
    recs = {r["metricName"]: r["queryRequestsCount"] for r in out["data"]["records"]}
    assert recs == {"m_one": 2, "m_two": 1}
    # match_pattern + limit
    out = a.metric_names_stats(limit=1)
    assert len(out["data"]["records"]) == 1
    assert out["data"]["records"][0]["metricName"] == "m_one"
    out = a.metric_names_stats(match_pattern="two")
    assert [r["metricName"] for r in out["data"]["records"]] == ["m_two"]
    # reset clears
    assert a.reset_metric_names_stats()["status"] == "success"
    assert a.metric_names_stats()["data"]["records"] == []


def test_reload_samples_after_compaction(spark, tmp_path):
    """Out-of-band compaction replaces files a pinned frame's plan
    binds; PromAPI.reload_samples() re-derives the frame (and resets
    the result caches) so queries keep working."""
    from victoriametrics_spark.schema import samples_from_columns
    from victoriametrics_spark.storage import (
        compact_samples_table,
        drop_samples_table,
        read_samples_table,
        write_samples_table,
    )

    rows = [("a", T0 + i * 100_000, float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    samples = samples_from_columns(
        df, name="m", label_cols={"s": "series"}, ts="ts", value="value"
    )
    write_samples_table(samples, "t_api_reload", n_buckets=2)
    try:
        a = PromAPI(
            spark,
            read_samples_table(spark, "t_api_reload"),
            samples_table="t_api_reload",
        )
        a.delete_series(['m{s="a"}'])
        compact_samples_table(spark, "t_api_reload", n_buckets=2)
        a.reload_samples()
        res = a.query_range("m", str(T0 // 1000), str(T0 // 1000 + 900), "100")
        assert res["data"]["result"] == []
    finally:
        drop_samples_table(spark, "t_api_reload")


def test_relabel_debug_routes(api):
    """/metric-relabel-debug and /target-relabel-debug step through the
    relabel DSL on one series (lib/promrelabel debug analog)."""
    cfg = """
- action: replace
  source_labels: [job]
  target_label: team
  regex: "(.*)"
  replacement: "team-$1"
- action: labeldrop
  regex: "__tmp.*"
"""
    out = api.relabel_debug('m{job="web", __tmp_x="1"}', cfg)
    assert out["status"] == "success"
    assert out["originalLabels"] == 'm{__tmp_x="1", job="web"}'
    assert len(out["steps"]) == 2
    assert out["resultingLabels"] == 'm{job="web", team="team-web"}'

    # drop action short-circuits
    out = api.relabel_debug(
        'm{job="web"}',
        '[{"action": "drop", "source_labels": ["job"], "regex": "web"}]',
    )
    assert out["resultingLabels"] == "<dropped>"

    # target flavor finalizes: __-prefixed labels removed at the end
    out = api.relabel_debug(
        '{__address__="1.2.3.4:9100", job="node"}',
        '[{"action": "replace", "source_labels": ["__address__"], '
        '"target_label": "instance"}]',
        target=True,
    )
    assert out["status"] == "success"
    assert out["resultingLabels"] == '{instance="1.2.3.4:9100", job="node"}'

    # malformed config errors cleanly
    assert api.relabel_debug("m", ":::bad yaml")["status"] == "error"


def test_logsql_stats_query_range(logs_api):
    """/select/logsql/stats_query_range: trailing stats evaluated per
    step bucket → Prometheus matrix (one aggregation, not one query per
    bucket)."""
    out = logs_api.stats_query_range(
        "error | stats count() as n", start="1704067200", end="1704240000",
        step="1d",
    )
    assert out["status"] == "success"
    res = out["data"]["result"]
    assert len(res) == 1 and res[0]["metric"]["__name__"] == "n"
    # day1 has 1 error, day2 has 2
    vals = {int(t): v for t, v in res[0]["values"]}
    assert vals == {1704067200: "1", 1704153600: "2"}
    # grouped flavor keeps by-labels
    out = logs_api.stats_query_range(
        "* | stats by (event_type) count() as n",
        start="1704067200", end="1704240000", step="1d",
    )
    mats = {
        (r["metric"]["event_type"], len(r["values"]))
        for r in out["data"]["result"]
    }
    assert mats == {("error", 2), ("signup", 1)}
    with pytest.raises(ValueError, match="stats"):
        logs_api.stats_query_range("error", "0", "1", "1d")


def test_logsql_stream_routes(spark):
    """/select/logsql/{streams,stream_field_names,stream_field_values}
    over a frame with the canonical _stream column."""
    from datetime import datetime

    from victoriametrics_spark.api import LogsAPI
    from victoriametrics_spark.logsql.pipes import set_stream_fields

    rows = [
        (datetime(2024, 1, 1, h), f"m {h}", "web", "h1") for h in range(4)
    ] + [(datetime(2024, 1, 1, h), f"m {h}", "db", "h2") for h in range(2)]
    df = set_stream_fields(
        spark.createDataFrame(rows, ["_time", "_msg", "app", "host"]),
        ["app", "host"],
    )
    api = LogsAPI(spark, df)
    out = api.streams("*")
    assert out["streams"][0] == {
        "value": '{app="web",host="h1"}', "hits": 4,
    }
    assert {s["value"] for s in out["streams"]} == {
        '{app="web",host="h1"}', '{app="db",host="h2"}',
    }
    names = api.stream_field_names("*")
    assert {n["value"] for n in names["names"]} == {"app", "host"}
    vals = api.stream_field_values("*", "app")
    assert [(v["value"], v["hits"]) for v in vals["values"]] == [
        ("web", 4), ("db", 2),
    ]


def test_logsql_stream_routes_adversarial(spark):
    """Stream parsing must survive a field that is a suffix of another
    ('app' vs 'webapp'), '=' inside quoted values, and quotes inside
    values (escaped by set_stream_fields)."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from victoriametrics_spark.api import LogsAPI
    from victoriametrics_spark.logsql.pipes import set_stream_fields, stream_filter

    rows = [
        (datetime(2024, 1, 1), "m", "front", "admin", 'a=b"c'),
    ]
    df = set_stream_fields(
        spark.createDataFrame(rows, ["_time", "_msg", "app", "webapp", "payload"]),
        ["app", "webapp", "payload"],
    )
    api = LogsAPI(spark, df)
    names = api.stream_field_names("*")
    assert {n["value"] for n in names["names"]} == {"app", "webapp", "payload"}
    # 'app' values must NOT pick up webapp's value
    assert [v["value"] for v in api.stream_field_values("*", "app")["values"]] == [
        "front"
    ]
    assert [
        v["value"] for v in api.stream_field_values("*", "webapp")["values"]
    ] == ["admin"]
    # '=' and escaped quotes round-trip through the canonical form
    assert [
        v["value"] for v in api.stream_field_values("*", "payload")["values"]
    ] == ['a=b"c']
    # stream_filter: exact match anchors the field name
    assert df.filter(
        stream_filter(F.col("_stream"), {"app": "admin"})
    ).count() == 0
    assert df.filter(
        stream_filter(F.col("_stream"), {"app": "front"})
    ).count() == 1
    assert df.filter(
        stream_filter(F.col("_stream"), {"payload": 'a=b"c'})
    ).count() == 1
    # regex match also anchored
    assert df.filter(
        stream_filter(F.col("_stream"), {"app": "~adm.*"})
    ).count() == 0


def test_force_merge_route(spark):
    """/internal/force_merge (ForceMergePartitions analog,
    app/vmstorage/main.go:250-268): merges only partitions matching the
    prefix; other days' files untouched; queries keep working."""
    import os

    from victoriametrics_spark.schema import samples_from_columns
    from victoriametrics_spark.storage import (
        append_samples,
        drop_samples_table,
        read_samples_table,
        write_samples_table,
    )

    DAY = 86_400_000
    T0 = 1704067200000  # 2024-01-01T00:00:00Z (shadows module epoch T0)
    rows = [
        ("a", T0 + d * DAY + i * 3_600_000, float(i))
        for d in range(2)
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    samples = samples_from_columns(
        df, name="m", label_cols={"s": "series"}, ts="ts", value="value"
    )
    write_samples_table(samples, "t_fmerge", n_buckets=2)
    try:
        # appends create multi-file buckets on BOTH days
        for d in range(2):
            extra = spark.createDataFrame(
                [("a", T0 + d * DAY + 1000, 9.0)],
                "series string, ts long, value double",
            )
            append_samples(
                samples_from_columns(
                    extra,
                    name="m",
                    label_cols={"s": "series"},
                    ts="ts",
                    value="value",
                ),
                "t_fmerge",
                n_buckets=2,
            )
        a = PromAPI(
            spark,
            read_samples_table(spark, "t_fmerge"),
            samples_table="t_fmerge",
        )
        day2_before = {
            p: os.stat(p).st_mtime_ns
            for u in [spark.table("t_fmerge").inputFiles()]
            for p in [x[7:] if x.startswith("file://") else x for x in u]
            if "date=2024-01-02" in p
        }
        out = a.force_merge("2024-01-01")
        assert out["status"] == "ok" and out["partitions"] == ["2024-01-01"]
        files = [
            u[7:] if u.startswith("file://") else u
            for u in spark.table("t_fmerge").inputFiles()
        ]
        d1 = [p for p in files if "date=2024-01-01" in p]
        # one file per NON-EMPTY bucket again (single series → 1 bucket)
        assert len(d1) == 1
        for p, m in day2_before.items():  # other day byte-identical
            assert os.stat(p).st_mtime_ns == m
        assert a.series_count()["data"] == [1]
        assert a.force_flush() == {"status": "ok"}
    finally:
        drop_samples_table(spark, "t_fmerge")


def test_graphite_tags_explore_and_register(spark):
    """/tags, /tags/<tag_name>, tagSeries/tagMultiSeries registration
    (tags_api.go:95-143,416-470): registered series become visible to
    the tags reads BEFORE any sample arrives, and canonical paths come
    back tag-sorted."""
    from victoriametrics_spark.api.http import GraphiteBrowseAPI

    rows = [
        ("app.web.requests", {"dc": "eu", "env": "prod"}, 0, 1.0, False),
        ("uptime", {}, 0, 1.0, False),
    ]
    b = GraphiteBrowseAPI(spark, spark.createDataFrame(rows, SAMPLE_SCHEMA))
    assert b.tags_list() == ["dc", "env", "name"]
    assert b.tags_list(filter_re="^d") == ["dc"]
    assert b.tags_list(limit=1) == ["dc"]
    tv = b.tag_values("dc")
    assert tv == {"tag": "dc", "values": [{"count": 1, "value": "eu"}]}
    names = b.tag_values("name", filter_re="web")
    assert [v["value"] for v in names["values"]] == ["app.web.requests"]
    # tagSeries: canonical path is tag-SORTED regardless of input order
    got = b.register_paths(["disk.used;host=h1;dc=us"])
    assert got == ["disk.used;dc=us;host=h1"]
    # registered series visible everywhere before any sample exists
    assert "host" in b.tags_list()
    assert b.tag_values("host")["values"] == [{"count": 1, "value": "h1"}]
    assert "disk.used" in [
        v["value"] for v in b.tag_values("name")["values"]
    ]
    assert b.tags_find_series(["host=h1"]) == ["disk.used;dc=us;host=h1"]
    # bad paths error like the reference's parser
    import pytest as _pytest

    with _pytest.raises(ValueError):
        b.register_paths(["bad;noequals"])


def test_graphite_tags_del_series(spark):
    """/tags/delSeries: exact-tag delete through the tombstone path;
    returns True only when something was deleted."""
    from victoriametrics_spark.schema import samples_from_columns
    from victoriametrics_spark.storage import (
        drop_samples_table,
        read_samples_table,
        write_samples_table,
    )

    rows = [(s, 1704067200000 + i * 60_000, 1.0) for s in ("a", "b") for i in range(5)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    samples = samples_from_columns(
        df, name="disk.used", label_cols={"host": "series"}, ts="ts", value="value"
    )
    write_samples_table(samples, "t_tagdel", n_buckets=2)
    try:
        a = PromAPI(
            spark,
            read_samples_table(spark, "t_tagdel"),
            samples_table="t_tagdel",
        )
        assert a.tags_del_series(["disk.used;host=a"]) is True
        assert a.series_count()["data"] == [1]
        assert a.tags_del_series(["disk.used;host=zzz"]) is False
    finally:
        drop_samples_table(spark, "t_tagdel")


def test_graphite_tags_http_routes(spark):
    """Route dispatch for /tags, /tags/<tag_name>, tagSeries/multi,
    delSeries — incl. the <tag_name> catch-all not swallowing the named
    endpoints."""
    from victoriametrics_spark.api.http import GraphiteBrowseAPI

    rows = [("app.web.requests", {"dc": "eu"}, 0, 1.0, False)]
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    a = PromAPI(spark, df)
    b = GraphiteBrowseAPI(spark, df)
    srv = serve(a, port=0, browse_api=b)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        def get(path):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}{path}"
            ) as resp:
                return resp.read().decode()

        assert json.loads(get("/tags")) == [
            {"tag": "dc"}, {"tag": "name"},
        ]
        tv = json.loads(get("/tags/dc"))
        assert tv == {"tag": "dc", "values": [{"count": 1, "value": "eu"}]}
        body = get("/tags/tagSeries?path=m;b=2;a=1")
        assert body == '"m;a=1;b=2"'
        multi = json.loads(get("/tags/tagMultiSeries?path=x;k=v&path=y"))
        assert multi == ["x;k=v", "y"]
        # registered series visible through the same server
        assert {"tag": "k"} in json.loads(get("/tags"))
    finally:
        srv.shutdown()


def test_import_csv_and_native_round_trip(spark):
    """/api/v1/import/csv with the csvimport column spec, and
    /api/v1/import/native round-tripping /api/v1/export/native."""
    from victoriametrics_spark.api.http import IngestAPI

    captured = []

    def sink(df, kind):
        captured.append(df)

    ing = IngestAPI(spark, sink=sink)
    n = ing.import_csv(
        "h1,2.5,1704067200000\nh2,3.5,1704067260000",
        "1:label:host,2:metric:cpu_usage,3:time:unix_ms",
    )
    assert n == 2
    got = {
        (r["name"], r["labels"]["host"], r["ts"], r["value"])
        for r in captured[-1].collect()
    }
    assert got == {
        ("cpu_usage", "h1", 1704067200000, 2.5),
        ("cpu_usage", "h2", 1704067260000, 3.5),
    }
    # unix_s time kind
    n = ing.import_csv(
        "h3,1.0,1704067200", "1:label:host,2:metric:m,3:time:unix_s"
    )
    assert n == 1
    assert captured[-1].collect()[0]["ts"] == 1704067200000

    # native round trip: export from a PromAPI, import through IngestAPI
    rows = [("m1", {"a": "b"}, 1000, 1.5, False), ("m2", {}, 2000, 2.5, False)]
    api = PromAPI(spark, spark.createDataFrame(rows, SAMPLE_SCHEMA))
    blob = api.export_native(["{__name__=~'.+'}"])
    n = ing.import_native(blob)
    assert n == 2
    back = {
        (r["name"], r["ts"], r["value"]) for r in captured[-1].collect()
    }
    assert back == {("m1", 1000, 1.5), ("m2", 2000, 2.5)}


def test_query_trace(api):
    """?trace=1 attaches a querytracer-shaped tree (lib/querytracer;
    prometheus.go QueryHandler): duration_msec/message/children, with
    plan and execute spans; absent without the flag."""
    out = api.query("temp", time="1500", trace=True)
    tr = out["trace"]
    assert tr["message"].startswith("/api/v1/query:")
    assert tr["duration_msec"] >= 0
    msgs = [c["message"] for c in tr["children"]]
    assert any(m.startswith("eval:") for m in msgs)
    assert "execute plan + collect" in msgs
    # child durations are bounded by the root
    assert all(c["duration_msec"] <= tr["duration_msec"] for c in tr["children"])
    assert "trace" not in api.query("temp", time="1500")
    rng = api.query_range("temp", "1000", "2000", "500", trace=True)
    assert rng["trace"]["message"].startswith("/api/v1/query_range:")


def test_extra_label_and_filters_enforced(api):
    """extra_label / extra_filters[] (searchutil GetExtraTagFilters,
    the vmgateway isolation params): enforced on query, query_range,
    and series regardless of the query's own selectors."""
    enforced = api.enforced_from_params(["job=a"], [])
    out = api.query("http_requests_total", time="1500", enforced=enforced)
    res = out["data"]["result"]
    assert len(res) == 1 and res[0]["metric"]["job"] == "a"
    # regex filter via extra_filters[]
    enforced2 = api.enforced_from_params([], ['{job=~"b"}'])
    rng = api.query_range(
        "http_requests_total", "1000", "2000", "500", enforced=enforced2
    )
    assert {r["metric"]["job"] for r in rng["data"]["result"]} == {"b"}
    ser = api.series(["http_requests_total"], enforced=enforced,
                     now_ms=2_000_000)
    assert [m["job"] for m in ser["data"]] == ["a"]
    # non-matching enforced filter hides everything
    none = api.query(
        "http_requests_total",
        time="1500",
        enforced=api.enforced_from_params(["job=zzz"], []),
    )
    assert none["data"]["result"] == []
    import pytest as _pytest

    with _pytest.raises(ValueError):
        api.enforced_from_params(["nodelimiter"], [])
    with _pytest.raises(ValueError):
        api.enforced_from_params([], ["sum(x)"])


@pytest.mark.slow
def test_enforced_on_export_and_federate(api):
    """The isolation params must also bind the raw-data egress routes —
    /api/v1/export{,/csv,/native} and /federate (VM applies
    GetExtraTagFilters in ExportHandler and FederateHandler) — or a
    vmgateway-style proxy's tenant scoping is trivially bypassed."""
    import json

    enforced = api.enforced_from_params(["job=a"], [])
    lines = list(api.export_jsonl(['{__name__=~".+"}'], enforced=enforced))
    metas = [json.loads(ln)["metric"] for ln in lines]
    assert metas and all(m.get("job") == "a" for m in metas)
    # csv: only job=a rows survive
    csv_lines = list(api.export_csv(
        ['{__name__=~".+"}'], "__name__,job,__value__", enforced=enforced
    ))
    data_rows = [ln for ln in csv_lines[1:] if ln]
    assert data_rows and all(ln.split(",")[1] == "a" for ln in data_rows)
    # native: parquet blob round-trips with only the enforced series
    blob = api.export_native(['{__name__=~".+"}'], enforced=enforced)
    import io

    import pyarrow.parquet as pq

    tbl = pq.read_table(io.BytesIO(blob))
    jobs = {
        dict(zip(m.keys(), m.values())).get("job")
        for m in [dict(x) for x in tbl.column("labels").to_pylist()]
    }
    assert jobs == {"a"}
    # federate: latest-point lines carry only the enforced series
    fed = api.federate(
        ['{__name__=~".+"}'], enforced=enforced, now_ms=2_000_000
    )
    assert fed and all('job="a"' in ln for ln in fed)
    # a non-matching enforced filter hides everything on all four
    none = api.enforced_from_params(["job=zzz"], [])
    assert list(api.export_jsonl(['{__name__=~".+"}'], enforced=none)) == []
    assert (
        api.federate(
            ['{__name__=~".+"}'], enforced=none, now_ms=2_000_000
        )
        == []
    )


def test_enforced_on_labels_and_values(api):
    enforced = api.enforced_from_params(["room=x"], [])
    labs = api.labels(enforced=enforced, now_ms=2_000_000)
    assert set(labs["data"]) == {"__name__", "room"}
    vals = api.label_values("__name__", enforced=enforced,
                            now_ms=2_000_000)
    assert vals["data"] == ["temp"]


def test_functions_api_and_route_aliases(api):
    """Graphite Function API /functions (functions_api.go) over our own
    registry, plus the reference's route aliases: /graphite/ prefix
    strip, /api/v1/status/buildinfo, /api/v1/notifiers."""
    fns = api.graphite_functions()
    assert len(fns) >= 151
    assert fns["sumSeries"]["name"] == "sumSeries"
    grouped = api.graphite_functions(grouped=True)
    assert set(grouped) == {""} and "sumSeries" in grouped[""]
    det = api.graphite_function_details("movingAverage")
    assert det["function"].startswith("movingAverage(")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        api.graphite_function_details("noSuchFn")

    from victoriametrics_spark.api import serve
    import json as _json
    import threading
    import urllib.request

    srv = serve(api, port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()

    def get(path):
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.read().decode()

    assert _json.loads(get("/api/v1/notifiers")) == {
        "status": "success", "data": {"notifiers": []},
    }
    assert "version" in _json.loads(get("/api/v1/status/buildinfo"))["data"]
    assert _json.loads(get("/functions/sumSeries"))["name"] == "sumSeries"
    # /graphite/ prefix strips to the same handler
    a = get("/functions?grouped=1")
    b = get("/graphite/functions?grouped=1")
    assert a == b and "sumSeries" in a
    srv.shutdown()


def test_ingest_json_dialect_routes(spark):
    """The vminsert HTTP tail: Datadog v1/v2 series, NewRelic bulk,
    OTLP-JSON, Zabbix connector, DDSketch protobuf, health probes —
    each through the real server against its parser."""
    import json as _json
    import threading
    import urllib.request
    from urllib.request import Request

    from victoriametrics_spark.api.http import IngestAPI

    captured = []

    def sink(df, kind):
        captured.append((kind, df.collect()))

    ing = IngestAPI(spark, sink=sink)
    rows = [("m", {}, 1000, 1.0, False)]
    api = PromAPI(spark, spark.createDataFrame(rows, SAMPLE_SCHEMA))
    srv = serve(api, port=0, ingest_api=ing)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    def post(path, body, expect):
        req = Request(
            f"http://127.0.0.1:{port}{path}",
            data=body if isinstance(body, bytes) else body.encode(),
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == expect, (path, r.status)
            return r.read().decode()

    dd1 = {"series": [{"metric": "dd.m1", "points": [[1, 2.5]],
                       "tags": ["env:p"], "host": "h1"}]}
    out = post("/datadog/api/v1/series", _json.dumps(dd1), 202)
    assert _json.loads(out) == {"status": "ok"}
    got = {(r["name"], r["labels"]["host"], r["value"]) for r in captured[-1][1]}
    assert got == {("dd.m1", "h1", 2.5)}

    dd2 = {"series": [{"metric": "dd.m2", "resources":
                       [{"name": "h2", "type": "host"}],
                       "points": [{"timestamp": 1, "value": 3.5}], "tags": []}]}
    post("/datadog/api/v2/series", _json.dumps(dd2), 202)
    assert any(r["name"] == "dd.m2" for r in captured[-1][1])

    zb = ('{"host":{"host":"z1","name":"zn1"},"item_tags":[],'
          '"name":"cpu.load","clock":10,"ns":0,"value":1.5,"type":0}')
    post("/zabbixconnector/api/v1/history", zb, 204)
    assert any(r["labels"]["host"] == "z1" for r in captured[-1][1])

    otlp = {"resourceMetrics": [{"scopeMetrics": [{"metrics": [
        {"name": "otlp.alias.m", "gauge": {"dataPoints": [
            {"timeUnixNano": "1704067200000000000", "asDouble": 3.5}
        ]}}]}]}]}
    # standard OTLP path alias (vminsert main.go:229)
    post("/opentelemetry/v1/metrics", _json.dumps(otlp), 204)
    assert any(r["name"] == "otlp.alias.m" for r in captured[-1][1])

    post("/datadog/api/v1/validate", "{}", 202)

    # health probes
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/health") as r:
        assert r.read() == b"OK"
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/influx/health") as r:
        assert _json.loads(r.read())["status"] == "pass"

    # DDSketch protobuf round trip via our own encoder
    from victoriametrics_spark.streaming.datadogsketches import (
        encode_sketch_payload,
    )

    payload = encode_sketch_payload(
        [{"metric": "sk.m", "host": "h3", "tags": ["env:s"],
          "dogs": [{"ts": 10, "cnt": 4, "min": 1.0, "max": 2.0,
                    "sum": 6.0, "k": [1338], "n": [4]}]}]
    )
    post("/datadog/api/beta/sketches", payload, 202)
    assert any(r["name"].startswith("sk.m") for r in captured[-1][1])

    # real agents compress: gzip and deflate bodies must decode
    import gzip
    import zlib

    dd1b = _json.dumps(dd1).encode()
    req = Request(
        f"http://127.0.0.1:{port}/datadog/api/v1/series",
        data=gzip.compress(dd1b),
        headers={"Content-Encoding": "gzip"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 202
    assert any(r["name"] == "dd.m1" for r in captured[-1][1])
    req = Request(
        f"http://127.0.0.1:{port}/datadog/api/v1/series",
        data=zlib.compress(dd1b),
        headers={"Content-Encoding": "deflate"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 202

    # malformed JSON must 400, not silently ack 0 rows
    import urllib.error

    before = len(captured)
    req = Request(
        f"http://127.0.0.1:{port}/datadog/api/v1/series",
        data=b'{"series": [truncated',
        method="POST",
    )
    try:
        urllib.request.urlopen(req)
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
    assert len(captured) == before  # nothing written
    srv.shutdown()


def test_extra_filters_multiple_are_alternatives(api):
    """Multiple extra_filters[] params OR together, each AND-combined
    with extra_label (searchutil.JoinTagFilterss — the cluster
    rollup_result_cache apptest queries two tenants this way)."""
    enforced = api.enforced_from_params(
        [], ['{job="a"}', '{job="b"}']
    )
    out = api.query("http_requests_total", time="1500", enforced=enforced)
    assert {r["metric"]["job"] for r in out["data"]["result"]} == {"a", "b"}
    # extra_label ANDs into each alternative
    both = api.enforced_from_params(
        ["code=200"], ['{job="a"}', '{job="b"}']
    )
    out = api.query("http_requests_total", time="1500", enforced=both)
    assert {r["metric"]["job"] for r in out["data"]["result"]} == {"a"}


def test_max_points_per_timeseries(spark):
    """-search.maxPointsPerTimeseries rejects over-long range grids up
    front (promql.ValidateMaxPointsPerSeries, eval.go:62-72)."""
    rows = [("m_pts", {"a": "1"}, ts, 1.0, False)
            for ts in range(0, 600_000, 100_000)]
    a = PromAPI(
        spark,
        spark.createDataFrame(rows, SAMPLE_SCHEMA),
        max_points_per_timeseries=100,
    )
    # 11 points: fine
    out = a.query_range("m_pts", "0", "600", "60")
    assert out["status"] == "success"
    # 601 points: rejected with the reference's message
    try:
        a.query_range("m_pts", "0", "600", "1")
        raise AssertionError("expected too-many-points error")
    except ValueError as e:
        assert "too many points" in str(e)
        assert "maxPointsPerTimeseries" in str(e)


def test_admin_authkeys(spark):
    """authKey protection for admin routes (httpserver.CheckAuthFlag:
    -deleteAuthKey/-snapshotAuthKey/-forceMergeAuthKey/
    -metricNamesStatsResetAuthKey): missing key -> 401, wrong key ->
    401, matching key -> route runs; unset flags stay open."""
    import json as _json
    import threading
    import urllib.error
    import urllib.parse
    import urllib.request

    from victoriametrics_spark.api import serve

    rows = [("m_auth", {"a": "1"}, 0, 1.0, False)]
    a = PromAPI(spark, spark.createDataFrame(rows, SAMPLE_SCHEMA))
    srv = serve(a, port=0, auth_keys={
        "deleteAuthKey": "del-secret",
        "snapshotAuthKey": "snap-secret",
    })
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{port}"

    def get(path, **q):
        qs = urllib.parse.urlencode(q)
        try:
            with urllib.request.urlopen(f"{base}{path}?{qs}") as r:
                return r.status, r.read().decode()
        except urllib.error.HTTPError as e:
            return e.code, e.read().decode()

    code, body = get("/api/v1/admin/tsdb/delete_series",
                     **{"match[]": "m_auth"})
    assert code == 401 and "non-empty authKey" in body
    assert "-deleteAuthKey" in body
    code, body = get("/api/v1/admin/tsdb/delete_series",
                     **{"match[]": "m_auth", "authKey": "wrong"})
    assert code == 401 and "doesn't match -deleteAuthKey" in body
    # matching key gets past auth (route itself 422s — no samples
    # table on this bare PromAPI — which proves the handler ran)
    code, _ = get("/snapshot/list", authKey="snap-secret")
    assert code != 401
    code, body = get("/snapshot/list")
    assert code == 401 and "-snapshotAuthKey" in body
    # unset flag: force_merge stays open
    code, _ = get("/internal/force_flush")
    assert code == 200
    srv.shutdown()


def test_max_query_len(spark):
    """-search.maxQueryLen rejects oversized query strings with the
    reference's message (prometheus.go:795)."""
    rows = [("m_len", {"a": "1"}, 0, 1.0, False)]
    a = PromAPI(
        spark, spark.createDataFrame(rows, SAMPLE_SCHEMA), max_query_len=64
    )
    assert a.query("m_len", "10")["status"] == "success"
    try:
        a.query('m_len{a=~"' + "x" * 100 + '"}', "10")
        raise AssertionError("expected too-long-query error")
    except ValueError as e:
        assert "too long query" in str(e)
        assert "-search.maxQueryLen=64" in str(e)


def test_route_tail_aliases(spark):
    """Route-table tail: /prometheus/ prefix alias, /api/v1/push and
    /api/v2/write ingest aliases, pushgateway paths (200, labels
    ignored), influx fake query, newrelic inventory ack,
    /api/v1/targets + /api/v1/status/config stubs,
    /internal/resetRollupResultCache (vminsert+vmselect main.go)."""
    import threading
    import urllib.parse
    import urllib.request

    from victoriametrics_spark.api.http import IngestAPI

    rows = [("m_tail", {"a": "1"}, 1_000_000, 1.0, False)]
    captured = []
    a = PromAPI(spark, spark.createDataFrame(rows, SAMPLE_SCHEMA))
    ing = IngestAPI(spark, sink=lambda df, kind: captured.append(df))
    srv = serve(a, port=0, ingest_api=ing)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{port}"

    def post(path, body):
        req = urllib.request.Request(
            f"{base}{path}", data=body.encode(), method="POST"
        )
        with urllib.request.urlopen(req) as r:
            return r.status

    def get(path, **q):
        qs = urllib.parse.urlencode(q)
        with urllib.request.urlopen(f"{base}{path}?{qs}") as r:
            return r.status, r.read().decode()

    # /prometheus-prefixed select routes work
    code, body = get("/prometheus/api/v1/query", query="m_tail", time="1100")
    assert code == 200 and "m_tail" in body

    # pushgateway import path: 200 (not 204), body imported
    assert post(
        "/api/v1/import/prometheus/metrics/job/j1/instance/i1",
        "pg_m 5 1000000",
    ) == 200
    assert any(r["name"] == "pg_m" for r in captured[-1].collect())
    # plain import stays 204
    assert post("/api/v1/import/prometheus", "pg_m2 6 1000000") == 204

    # influx write aliases
    assert post("/api/v2/write", "al_m v=1 1000000000000000") in (200, 204)
    assert any(r["name"] == "al_m_v" for r in captured[-1].collect())

    # fake influx query probe
    code, body = get("/influx/query", q="SHOW DATABASES")
    assert code == 200 and '"_internal"' in body

    # newrelic inventory ack
    req = urllib.request.Request(
        f"{base}/newrelic/inventory/deltas", data=b"{}", method="POST"
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 202 and b'"version": 1' in r.read()

    # prometheus-compat stubs
    code, body = get("/api/v1/targets")
    assert code == 200 and '"activeTargets": []' in body
    code, body = get("/api/v1/status/config")
    assert code == 200 and '"yaml"' in body
    code, _ = get("/internal/resetRollupResultCache")
    assert code == 200
    srv.shutdown()


def test_max_query_duration_timeout(spark):
    """-search.maxQueryDuration / the `timeout` query arg: the query's
    Spark job group is cancelled past the deadline and the error names
    the budget (netstorage.go:102 analog); generous budgets pass."""
    rows = [
        ("m_to", {"i": str(i)}, ts, float(i), False)
        for i in range(50)
        for ts in range(0, 600_000, 100_000)
    ]
    a = PromAPI(
        spark,
        spark.createDataFrame(rows, SAMPLE_SCHEMA),
        max_query_duration_ms=60_000,
    )
    out = a.query_range("sum(rate(m_to[2m]))", "0", "600", "60")
    assert out["status"] == "success"
    # a 1ms per-request timeout fires mid-execution
    try:
        a.query_range(
            "quantile_over_time(0.5, m_to[5m])", "0", "600", "60",
            timeout="1ms",
        )
        raise AssertionError("expected timeout")
    except ValueError as e:
        assert "timeout exceeded during query execution" in str(e)
    # engine still healthy for the next query
    out = a.query("m_to", "100")
    assert out["status"] == "success"


def test_max_samples_limits(spark):
    """-search.maxSamplesPerQuery / maxSamplesPerSeries: over-broad
    scans fail with the reference's messages; the per-series cap binds
    the densest series, not the total."""
    rows = [
        ("m_sam", {"i": str(i)}, ts, 1.0, False)
        for i in range(4)
        for ts in range(0, 1_000_000, 100_000)  # 10 samples x 4 series
    ]
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)

    a = PromAPI(spark, df, max_samples_per_query=20)
    try:
        a.query_range("m_sam", "0", "1000", "100")
        raise AssertionError("expected samples-per-query error")
    except ValueError as e:
        assert "-search.maxSamplesPerQuery=20" in str(e)
    # narrowed selector scans 20 samples: at the limit, passes
    out = a.query_range('m_sam{i=~"0|1"}', "0", "1000", "100")
    assert out["status"] == "success"

    a = PromAPI(spark, df, max_samples_per_series=5)
    try:
        a.query_range("m_sam", "0", "1000", "100")
        raise AssertionError("expected samples-per-series error")
    except ValueError as e:
        assert "samples per series" in str(e)
        assert "-search.maxSamplesPerSeries" in str(e)
    # short range: <=5 samples per series in the probe envelope is not
    # reachable here (the envelope spans the whole day), so just check
    # the unlimited default passes
    out = PromAPI(spark, df).query_range("m_sam", "0", "1000", "100")
    assert out["status"] == "success"


def test_labels_series_limit_param(api):
    """Prometheus `limit` arg on labels/label_values/series (VM also
    truncates via -search.maxTagKeys/-search.maxTagValues)."""
    anchor = 2_000_000
    assert (api.labels(limit=2, now_ms=anchor)["data"]
            == api.labels(now_ms=anchor)["data"][:2])
    allv = api.label_values("job", now_ms=anchor)["data"]
    assert api.label_values("job", limit=1, now_ms=anchor)["data"] == allv[:1]
    full = api.series(['{__name__=~".+"}'], now_ms=anchor)["data"]
    lim = api.series(['{__name__=~".+"}'], limit=2, now_ms=anchor)["data"]
    assert len(lim) == 2 and lim == full[:2]


def test_render_max_data_points(api):
    """Graphite render maxDataPoints: series longer than the cap are
    re-bucketed to (until-from)/maxDataPoints and avg-consolidated
    (render_api.go:117-133 summarize)."""
    full = api.render("temp;*", "0", "2000", "100")
    assert len(full[0]["datapoints"]) == 20
    consolidated = api.render("temp;*", "0", "2000", "100",
                              max_data_points=5)
    pts = consolidated[0]["datapoints"]
    assert len(pts) == 5
    # bucket 0 covers grid points 0..300s: temp = 20+i per 100k ms
    vals = [v for v, _ in pts]
    assert vals[0] == pytest.approx(sum(20.0 + i for i in range(4)) / 4)
    assert [t for _, t in pts] == [0, 400, 800, 1200, 1600]
    # short series pass through untouched
    short = api.render("temp;*", "0", "2000", "500", max_data_points=10)
    assert len(short[0]["datapoints"]) == 4


def test_select_endpoints_via_post_form(api):
    """Grafana posts long queries as form bodies; the reference merges
    form and query params (r.FormValue). POSTed selects delegate to the
    GET dispatch with merged params."""
    import threading
    import urllib.parse
    import urllib.request

    srv = serve(api, port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{port}"
    body = urllib.parse.urlencode({
        "query": "last_over_time(temp[400s])",
        "start": "1000", "end": "2000", "step": "500",
    }).encode()
    req = urllib.request.Request(
        f"{base}/api/v1/query_range", data=body, method="POST",
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    with urllib.request.urlopen(req) as r:
        out = json.loads(r.read())
    assert out["status"] == "success"
    assert out["data"]["result"][0]["metric"]["__name__"] == "temp"
    # query-string and body params merge (time in URL, query in body)
    req = urllib.request.Request(
        f"{base}/api/v1/query?time=1500", data=b"query=temp",
        method="POST",
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    with urllib.request.urlopen(req) as r:
        out = json.loads(r.read())
    assert out["data"]["result"][0]["value"][0] == 1500.0
    srv.shutdown()


def test_max_concurrent_requests_limiter(api):
    """-search.maxConcurrentRequests analog (vmselect main.go:117-151):
    with the single slot held, a dynamic request queues up to
    min(timeout, maxQueueDuration) then 429s with the reference's
    message + Retry-After; static/simple requests bypass the limiter;
    releasing the slot lets queued requests through."""
    srv = serve(api, port=0, max_concurrent_requests=1, max_queue_duration_s=0.2)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"
    try:
        srv.conc_sem.acquire()  # occupy the only slot
        # health is static/simple → served while the limiter is full
        with urllib.request.urlopen(f"{base}/health") as resp:
            assert resp.status == 200
        try:
            urllib.request.urlopen(
                f"{base}/api/v1/query?query=up&timeout=1s"
            )
            raise AssertionError("expected 429")
        except urllib.error.HTTPError as e:
            assert e.code == 429
            assert e.headers["Retry-After"] == "10"
            body = e.read().decode()
            assert "-search.maxConcurrentRequests=1" in body
            assert "couldn't start executing the request" in body
        srv.conc_sem.release()
        with urllib.request.urlopen(
            f"{base}/api/v1/query?query=last_over_time(temp%5B400s%5D)&time=1500"
        ) as resp:
            assert json.loads(resp.read())["status"] == "success"
    finally:
        srv.shutdown()


def test_metrics_self_exposition(api):
    """/metrics serves Prometheus-exposition self metrics: per-path
    request counters, the concurrent-select gauges/counters
    (vm_http_requests_total / vm_concurrent_select_* family) and the
    JVM's codegen compilations, which a repeated query does not add to:
    it finds every generated class in the codegen cache."""
    srv = serve(api, port=0, max_concurrent_requests=2)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"

    def scrape() -> str:
        with urllib.request.urlopen(f"{base}/metrics") as resp:
            assert resp.headers["Content-Type"].startswith("text/plain")
            return resp.read().decode()

    def compilations() -> int:
        (line,) = [
            l for l in scrape().splitlines()
            if l.startswith("vm_spark_codegen_compilations_total ")
        ]
        return int(line.split()[1])

    def query() -> None:
        with urllib.request.urlopen(
            f"{base}/api/v1/query?query=last_over_time(temp%5B400s%5D)&time=1500"
        ) as resp:
            assert json.loads(resp.read())["status"] == "success"

    try:
        with urllib.request.urlopen(f"{base}/api/v1/labels"):
            pass
        with urllib.request.urlopen(f"{base}/prometheus/api/v1/labels"):
            pass
        body = scrape()
        # prefix-stripped path counting: both requests count to one path
        assert 'vm_http_requests_total{path="/api/v1/labels"} 2' in body
        assert "vm_concurrent_select_capacity 2" in body
        assert "vm_concurrent_select_current 0" in body
        assert "vm_concurrent_select_limit_timeout_total 0" in body
        assert "vm_app_uptime_seconds" in body

        before = compilations()
        query()
        first = compilations()
        assert first >= before
        query()
        assert compilations() == first
    finally:
        srv.shutdown()


def test_export_formats_and_chunking(api):
    """/api/v1/export format=prometheus (per-sample exposition lines),
    format=promapi (matrix envelope), and max_rows_per_line chunking
    (exportHandler analogs)."""
    srv = serve(api, port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}/api/v1/export"
    m = "match[]=temp"
    try:
        with urllib.request.urlopen(f"{base}?{m}&format=prometheus") as r:
            assert r.headers["Content-Type"].startswith("text/plain")
            lines = r.read().decode().splitlines()
        # one line per SAMPLE: temp has 21 points
        assert len(lines) == 21
        assert all(l.startswith('temp{room="x"} ') for l in lines)
        # value and millisecond timestamp per line
        parts = lines[0].split()
        assert parts[-1].isdigit() and float(parts[-2]) >= 20.0

        with urllib.request.urlopen(f"{base}?{m}&format=promapi") as r:
            body = json.loads(r.read())
        assert body["status"] == "success"
        assert body["data"]["resultType"] == "matrix"
        (series,) = body["data"]["result"]
        assert len(series["values"]) == 21

        with urllib.request.urlopen(f"{base}?{m}&max_rows_per_line=10") as r:
            chunked = [json.loads(l) for l in r.read().decode().splitlines()]
        assert len(chunked) == 3  # 10 + 10 + 1
        assert sorted(len(c["values"]) for c in chunked) == [1, 10, 10]
        assert {len(c["values"]) for c in chunked} == {
            len(c["timestamps"]) for c in chunked
        }
    finally:
        srv.shutdown()


def test_export_applies_biggest_downsampling_period(spark):
    """Exports without `start` thin at the biggest configured
    -downsampling.period interval; an explicit start or
    reduce_mem_usage=1 returns raw samples (docs §Downsampling:
    'Downsampling period changes /api/v1/export API output')."""
    rows = []
    for ts in range(0, 2_100_000, 100_000):
        rows.append(("m", {"s": "a"}, ts, float(ts), False))
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    api2 = PromAPI(
        spark, df, downsampling_rules=[(30 * 86_400_000, 500_000)]
    )
    raw = json.loads(next(iter(api2.export_jsonl(["m"], start="0"))))
    assert len(raw["values"]) == 21
    thinned = json.loads(next(iter(api2.export_jsonl(["m"]))))
    # biggest interval 500s: one (last) sample per bucket
    assert len(thinned["values"]) == 5
    assert thinned["timestamps"][-1] == 2_000_000
    unthinned = json.loads(
        next(iter(api2.export_jsonl(["m"], reduce_mem_usage=True)))
    )
    assert len(unthinned["values"]) == 21


def test_syslog_and_otlp_log_ingest(spark, api):
    """/insert/syslog (RFC5424 + RFC3164 lines) and
    /insert/opentelemetry/v1/logs (JSON encoding) land canonical log
    rows: _time from the protocol timestamp, _msg the message, and
    hostname/app/severity/resource attributes as fields."""
    from victoriametrics_spark.api.http import IngestAPI

    collected = {}

    def sink(df, kind):
        collected.setdefault(kind, []).extend(df.collect())

    ing = IngestAPI(spark, sink=sink)
    srv = serve(api, port=0, ingest_api=ing)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        def post(path, body, ctype="text/plain"):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=body.encode(),
                method="POST",
                headers={"Content-Type": ctype},
            )
            return urllib.request.urlopen(req).status

        assert post(
            "/insert/syslog",
            "<34>1 2024-01-01T00:00:05Z host1 app1 123 MSGID - boom\n"
            "<13>Jan  2 15:04:05 host2 prog[77]: legacy line\n",
        ) == 204
        otlp = (
            '{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name",'
            '"value":{"stringValue":"svc1"}}]},"scopeLogs":[{"logRecords":['
            '{"timeUnixNano":"1704067200000000000","severityText":"ERROR",'
            '"body":{"stringValue":"otlp line"},"attributes":'
            '[{"key":"k","value":{"stringValue":"v"}}]}]}]}]}'
        )
        assert post(
            "/insert/opentelemetry/v1/logs", otlp, "application/json"
        ) == 204
    finally:
        srv.shutdown()

    logs = collected["logs"]
    by_msg = {r["_msg"]: r for r in logs}
    assert set(by_msg) == {"boom", "legacy line", "otlp line"}
    r5424 = by_msg["boom"]
    assert r5424["fields"]["hostname"] == "host1"
    assert r5424["fields"]["severity"] == "2"  # 34 & 7
    assert r5424["_time"].isoformat().startswith("2024-01-01T00:00:05")
    r3164 = by_msg["legacy line"]
    assert r3164["fields"]["app_name"] == "prog"
    assert r3164["fields"]["proc_id"] == "77"
    ot = by_msg["otlp line"]
    assert ot["fields"]["service.name"] == "svc1"
    assert ot["fields"]["k"] == "v"
    assert ot["fields"]["severity"] == "ERROR"
    assert ot["_time"].isoformat().startswith("2024-01-01T00:00:00")


def test_log_ingest_args(spark, api):
    """The documented VictoriaLogs ingest args: _msg_field/_time_field
    pick which JSON keys carry message/timestamp, _stream_fields
    materializes the canonical _stream identity."""
    from victoriametrics_spark.api.http import IngestAPI

    collected = {}
    ing = IngestAPI(
        spark, sink=lambda df, kind: collected.setdefault(kind, []).extend(df.collect())
    )
    srv = serve(api, port=0, ingest_api=ing)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/insert/jsonline"
            "?_msg_field=log.line&_time_field=ts&_stream_fields=app,host",
            data=(
                '{"ts":"2024-01-01T00:00:00Z","log.line":"hi",'
                '"app":"web","host":"h1","extra":"e"}\n'
            ).encode(),
            method="POST",
        )
        assert urllib.request.urlopen(req).status == 204
    finally:
        srv.shutdown()
    (row,) = collected["logs"]
    assert row["_msg"] == "hi"
    assert row["_time"].isoformat().startswith("2024-01-01T00:00:00")
    assert row["_stream"] == '{app="web",host="h1"}'
    assert row["fields"]["extra"] == "e"


def test_log_ingest_ignore_and_extra_fields(spark, api):
    """ignore_fields drops named fields; extra_fields adds k=v entries
    (both documented VictoriaLogs HTTP ingest args)."""
    from victoriametrics_spark.api.http import IngestAPI

    collected = {}
    ing = IngestAPI(
        spark,
        sink=lambda df, kind: collected.setdefault(kind, []).extend(
            df.collect()
        ),
    )
    srv = serve(api, port=0, ingest_api=ing)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/insert/jsonline"
            # each extra_fields arg is ONE name=value pair (values may
            # contain commas) — repeat the arg for several fields
            "?ignore_fields=secret,junk&extra_fields=dc=eu"
            "&extra_fields=env=prod&extra_fields=note=a,b",
            data=(
                '{"_time":"2024-01-01T00:00:00Z","_msg":"m",'
                '"secret":"x","junk":"y","keep":"k"}' + chr(10)
            ).encode(),
            method="POST",
        )
        assert urllib.request.urlopen(req).status == 204
    finally:
        srv.shutdown()
    (row,) = collected["logs"]
    assert "secret" not in row["fields"] and "junk" not in row["fields"]
    assert row["fields"]["keep"] == "k"
    assert row["fields"]["dc"] == "eu" and row["fields"]["env"] == "prod"
    assert row["fields"]["note"] == "a,b"  # comma survives in the value


def test_logsql_extra_filters(logs_api, spark):
    """extra_filters / extra_stream_filters select args (the
    vmgateway-style enforcement for logs): a JSON object of
    field -> value-or-alternatives ANDed into every query; the stream
    variant matches the canonical _stream identity when present."""
    lines = list(logs_api.query("error", extra_filters='{"user_id": 2}'))
    assert len(lines) == 1 and json.loads(lines[0])["user_id"] == 2
    lines = list(logs_api.query("*", extra_filters='{"user_id": [1, 3]}'))
    assert {json.loads(x)["user_id"] for x in lines} == {1, 3}
    # stream variant over a _stream-carrying frame
    from datetime import datetime

    from victoriametrics_spark.api import LogsAPI
    from victoriametrics_spark.logsql import pipes

    df = pipes.set_stream_fields(
        spark.createDataFrame(
            [
                (datetime(2024, 1, 1), "a", "web"),
                (datetime(2024, 1, 1), "b", "webapp"),
            ],
            ["_time", "_msg", "app"],
        ),
        ["app"],
    )
    lapi = LogsAPI(spark, df)
    lines = list(lapi.query("*", extra_stream_filters='{"app": "web"}'))
    # anchored match: "web" must not match the "webapp" stream
    assert len(lines) == 1 and json.loads(lines[0])["_msg"] == "a"


def test_logsql_enforcement_scopes_every_endpoint(logs_api):
    """scoped() pre-filters the frame once at dispatch, so hits /
    stats / streams / field endpoints are all enforced, not just
    /query."""
    scoped = logs_api.scoped(extra_filters='{"event_type": "error"}')
    out = scoped.hits("*", step="1d")
    assert sum(g["values"][0] + (g["values"][1] if len(g["values"]) > 1 else 0) for g in out["hits"]) == 3
    names = scoped.field_names("*")
    assert any(r["value"] == "event_type" for r in names["names"])
    vals = scoped.field_values("*", "event_type", 10)
    assert [v["value"] for v in vals["values"]] == ["error"]
    # no args -> same object (no per-request overhead)
    assert logs_api.scoped() is logs_api


def test_admin_routes_accept_form_post(spark, tmp_path):
    """Admin routes read r.FormValue in the reference, so form-encoded
    POST bodies must reach the same handlers (and authKey checks) as
    GET query strings — round-9 sent them down the ingest dispatch
    (404)."""
    import threading
    import urllib.error
    import urllib.parse
    import urllib.request

    from victoriametrics_spark.api import serve

    rows = [("m_postadm", {"a": "1"}, 0, 1.0, False)]
    a = PromAPI(spark, spark.createDataFrame(rows, SAMPLE_SCHEMA))
    srv = serve(a, port=0, auth_keys={"snapshotAuthKey": "snap-secret"})
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{port}"

    def post_form(path, **fields):
        body = urllib.parse.urlencode(fields, doseq=True).encode()
        req = urllib.request.Request(
            f"{base}{path}",
            data=body,
            method="POST",
            headers={
                "Content-Type": "application/x-www-form-urlencoded"
            },
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, r.read().decode()
        except urllib.error.HTTPError as e:
            return e.code, e.read().decode()

    # authKey in the form body reaches the auth check: wrong key → 401
    code, body = post_form("/snapshot/list", authKey="wrong")
    assert code == 401 and "doesn't match -snapshotAuthKey" in body
    # right key in the body → handler runs (not 404/401)
    code, _ = post_form("/snapshot/list", authKey="snap-secret")
    assert code not in (401, 404)
    # unauthenticated admin route via POST runs too (flag unset)
    code, _ = post_form("/internal/force_flush")
    assert code == 200
    # delete_series via POST form hits the delete handler (422 on this
    # bare PromAPI — no samples_table — which proves it routed)
    code, body = post_form(
        "/api/v1/admin/tsdb/delete_series", **{"match[]": "m_postadm"}
    )
    assert code != 404


def test_export_selector_scoped_downsampling(spark):
    """Under selector-scoped -downsampling.period rules
    (filter:offset:interval), a start-less export thins each series at
    its FIRST matching filter's biggest interval and leaves series
    matching no filter raw (docs §Downsampling: 'If the time series
    doesn't match any filter, then it isn't downsampled')."""
    rows = []
    for ts in range(0, 2_100_000, 100_000):
        rows.append(("m_ds", {"env": "prod"}, ts, float(ts), False))
        rows.append(("m_ds", {"env": "dev"}, ts, float(ts), False))
        rows.append(("m_other", {"env": "qa"}, ts, float(ts), False))
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    api3 = PromAPI(
        spark,
        df,
        downsampling_rules=[
            ('{env="prod"}', 30 * 86_400_000, 500_000),
            ('{env="dev"}', 30 * 86_400_000, 1_000_000),
        ],
    )
    out = {}
    for ln in api3.export_jsonl(['{__name__=~".+"}']):
        obj = json.loads(ln)
        key = (obj["metric"]["__name__"], obj["metric"].get("env"))
        out[key] = len(obj["values"])
    # prod thins at 500s (5 buckets), dev at 1000s (3 buckets:
    # [0,1e6) [1e6,2e6) [2e6,..)), unmatched series stays raw (21)
    assert out[("m_ds", "prod")] == 5
    assert out[("m_ds", "dev")] == 3
    assert out[("m_other", "qa")] == 21


def test_ingest_series_cardinality_limiters(spark):
    """-storage.maxHourlySeries / maxDailySeries
    (storage.go:2151-2167): rows of NEW series beyond the window cap
    drop and count; already-registered series keep ingesting; the
    window rollover resets the limiter; /metrics exposes the
    vm_*_series_limit_* family (vmstorage main.go:506-514)."""
    import threading
    import urllib.request

    from victoriametrics_spark.api import serve
    from victoriametrics_spark.api.http import IngestAPI

    clock = {"now": 3_600_000}  # start exactly on an hour boundary
    captured = []
    ing = IngestAPI(
        spark,
        sink=lambda df, kind: captured.append(df),
        max_hourly_series=2,
        now_ms_fn=lambda: clock["now"],
    )

    def names(df):
        return sorted(r["name"] for r in df.collect())

    # first two series register; the third is over the cap → dropped
    n = ing.import_lines(
        "s_a 1 3600000\ns_b 1 3600000\ns_c 1 3600000", "prometheus"
    )
    assert n == 2
    assert names(captured[-1]) == ["s_a", "s_b"]
    assert ing.hourly_series_limiter.rows_dropped_total == 1

    # existing series still ingest; the rejected one keeps dropping
    # (it never registered) and counts per ROW
    n = ing.import_lines(
        "s_a 2 3610000\ns_c 2 3610000\ns_c 3 3620000", "prometheus"
    )
    assert n == 1
    assert names(captured[-1]) == ["s_a"]
    assert ing.hourly_series_limiter.rows_dropped_total == 3
    assert ing.hourly_series_limiter.current_items() == 2

    # next hour: the window resets and s_c registers fine
    clock["now"] = 7_200_000
    n = ing.import_lines("s_c 4 7200000\ns_d 4 7200000", "prometheus")
    assert n == 2
    assert ing.hourly_series_limiter.current_items() == 2

    # /metrics exposes the family
    rows = [("m_lim", {"a": "1"}, 0, 1.0, False)]
    a = PromAPI(spark, spark.createDataFrame(rows, SAMPLE_SCHEMA))
    srv = serve(a, port=0, ingest_api=ing)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics"
        ) as r:
            body = r.read().decode()
        assert "vm_hourly_series_limit_max_series 2" in body
        assert "vm_hourly_series_limit_rows_dropped_total 3" in body
        assert "vm_hourly_series_limit_current_series 2" in body
        assert "vm_rows_ignored_total" in body
        # daily limiter unset → absent
        assert "vm_daily_series_limit" not in body
    finally:
        srv.shutdown()


def test_downsampling_filters_debug(spark):
    """/downsampling-filters-debug (the vmui Tools backend): each
    series maps to the flag lines of its FIRST matching filter group;
    unmatched series map to null; parse errors land in error.flags /
    error.metrics."""
    import threading
    import urllib.parse
    import urllib.request

    from victoriametrics_spark.api import serve

    rows = [("m_dfd", {"env": "prod"}, 0, 1.0, False)]
    a = PromAPI(spark, spark.createDataFrame(rows, SAMPLE_SCHEMA))
    flags = '{env="prod"}:30d:1h\n{env="prod"}:180d:24h\n{env="dev"}:7d:5m'
    metrics = (
        'cpu{env="prod"}\ncpu{env="dev"}\ncpu{env="qa"}'
    )
    out = a.downsampling_filters_debug(flags, metrics)
    assert out["error"] == {}
    assert out["result"]['cpu{env="prod"}'] == [
        '{env="prod"}:30d:1h', '{env="prod"}:180d:24h'
    ]
    assert out["result"]['cpu{env="dev"}'] == ['{env="dev"}:7d:5m']
    assert out["result"]['cpu{env="qa"}'] is None
    # a bare offset:interval level matches everything (first-match
    # shadows later filters, flag order)
    out2 = a.downsampling_filters_debug(
        '30d:1h\n{env="dev"}:7d:5m', 'cpu{env="dev"}'
    )
    assert out2["result"]['cpu{env="dev"}'] == ["30d:1h"]
    # error reporting
    assert "flags" in a.downsampling_filters_debug("garbage", "m")["error"]
    assert "metrics" in a.downsampling_filters_debug(
        "30d:1h", 'cpu{env=~"x"}'
    )["error"]
    assert "required" in a.downsampling_filters_debug("", "m")["error"]["flags"]

    # over HTTP (the vmui fetch path)
    srv = serve(a, port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        qs = urllib.parse.urlencode({"flags": flags, "metrics": metrics})
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/downsampling-filters-debug?{qs}"
        ) as r:
            out3 = json.loads(r.read())
        assert out3["result"]['cpu{env="qa"}'] is None
        assert out3["result"]['cpu{env="prod"}'] == [
            '{env="prod"}:30d:1h', '{env="prod"}:180d:24h'
        ]
    finally:
        srv.shutdown()


def test_instant_rollup_delegates_to_range(api):
    """query=expr[w:s] on /api/v1/query runs the wrapped expression as
    a RANGE query over [time−offset−w, time−offset] at the subquery
    step and returns a matrix (QueryHandler IsRollup branch,
    prometheus.go:834-853); a bare selector[w] still takes the
    raw-export shortcut, and plain expressions stay vectors."""
    out = api.query("avg_over_time(temp[400s])[1000s:200s]", time="2000")
    assert out["data"]["resultType"] == "matrix"
    (r,) = out["data"]["result"]
    assert [v[0] for v in r["values"]] == [
        1000.0, 1200.0, 1400.0, 1600.0, 1800.0, 2000.0
    ]
    # offset shifts the whole window
    off = api.query(
        "avg_over_time(temp[400s])[400s:200s] offset 200s", time="2000"
    )
    (ro,) = off["data"]["result"]
    assert [v[0] for v in ro["values"]] == [1400.0, 1600.0, 1800.0]
    # values match the same expression via query_range directly
    rng = api.query_range(
        "avg_over_time(temp[400s])", "1000", "2000", "200"
    )
    assert r["values"] == rng["data"]["result"][0]["values"]
    # plain instant queries remain vectors
    assert (
        api.query("temp", time="1500")["data"]["resultType"] == "vector"
    )


def test_instant_rollup_at_modifier_not_hijacked(api):
    """expr[w] @ ts keeps its pinned-evaluation semantics through the
    full evaluator (a deliberate deviation: the reference's IsRollup
    childQuery serialization silently drops @) — the range delegation
    must decline @-modified rollups."""
    out = api.query("last_over_time(temp[400s] @ 1000)", time="2000")
    assert out["data"]["resultType"] == "vector"
    (r,) = out["data"]["result"]
    # pinned at t=1000s: sample @1.0Ms = 20 + 10
    assert float(r["value"][1]) == 30.0


def test_debug_spark_plan(api):
    """/debug/spark-plan: the Spark-native plan-audit endpoint — counts
    shuffle/broadcast exchanges and returns the formatted plan."""
    out = api.spark_plan(
        "sum(rate(http_requests_total[400s])) by (job)",
        start="1000", end="2000", step="200",
    )
    d = out["data"]
    assert out["status"] == "success"
    assert "== Physical Plan ==" in d["plan"]
    # rollup+agg shape: per-series sort shuffle + group shuffle, no joins
    assert d["shuffleExchanges"] >= 1
    assert d["broadcastExchanges"] == 0
    # a binop adds a join layer; plan must still compile and report
    d2 = api.spark_plan(
        "http_requests_total / on(job) group_left sum(http_requests_total) by (job)",
        start="1000", end="2000", step="200",
    )["data"]
    assert d2["shuffleExchanges"] + d2["broadcastExchanges"] >= d["shuffleExchanges"]
    # execute=1 drives AQE to the final plan and reports codegen spans
    d3 = api.spark_plan(
        "sum(rate(http_requests_total[400s])) by (job)",
        start="1000", end="2000", step="200", execute=True,
    )["data"]
    assert d3["wholeStageCodegenSpans"] >= 1
