"""Ingest-parser golden corpus — every TestRowsUnmarshal success and
failure case from the reference's parser tests
(lib/protoparser/{prometheus,graphite,influx,opentsdb}/parser_test.go),
extracted by scripts/port_parser_golden.py into
parser_golden_cases.json and replayed through the Spark parsers.

Expected timestamps are normalized the way each dialect's STREAM layer
does (the Row-level corpora carry raw values): prometheus rows are
already ms post-OpenMetrics-scaling; graphite seconds x1000 with
0/-1 → ingest time (stream/streamparser.go:166-177); influx raw →
detectTimestamp magnitude rules; opentsdb SECOND_MASK."""
from __future__ import annotations

import json
import math
import os

import pytest

from victoriametrics_spark.streaming.parsers import (
    parse_graphite,
    parse_influx,
    parse_opentsdb,
    parse_prometheus_lines,
    parse_prometheus_text,
)

CASES = json.load(
    open(os.path.join(os.path.dirname(__file__), "parser_golden_cases.json"))
)
DEF_MS = 777_000_000  # sentinel ingest time (no corpus case collides)


def _lines(spark, text):
    rows = [(ln,) for ln in text.split("\n")]
    return spark.createDataFrame(rows or [("",)], "value string")


def _num(v):
    if v == "NaN":
        return float("nan")
    if v == "Inf":
        return float("inf")
    if v == "-Inf":
        return float("-inf")
    return float(v)


def _key(name, tags, ts, value):
    v = _num(value) if not isinstance(value, float) else value
    vrepr = "NaN" if isinstance(v, float) and math.isnan(v) else repr(v)
    return (name, tuple(sorted(tags.items())), int(ts), vrepr)


def _got_keys(df):
    return sorted(
        _key(r["name"], dict(r["labels"] or {}), r["ts"], r["value"])
        for r in df.collect()
    )


# ---------------------------------------------------------------- expected
def _exp_prometheus(rows):
    out = []
    for r in rows:
        tags = {t["Key"]: t["Value"] for t in r.get("Tags") or []}
        ts = int(r.get("Timestamp") or 0) or DEF_MS
        out.append(_key(r["Metric"], tags, ts, r.get("Value", 0)))
    return sorted(out)


def _exp_graphite(rows):
    out = []
    for r in rows:
        tags = {t["Key"]: t["Value"] for t in r.get("Tags") or []}
        raw = int(r.get("Timestamp") or 0)
        ts = DEF_MS if raw in (0, -1) else raw * 1000
        out.append(_key(r["Metric"], tags, ts, r.get("Value", 0)))
    return sorted(out)


def _detect_influx(raw):
    if raw == 0:
        return DEF_MS
    if raw >= 10**17:
        return raw // 10**6
    if raw >= 10**14:
        return raw // 10**3
    if raw >= 10**11:
        return raw
    return raw * 1000


def _exp_influx(rows):
    out = []
    for r in rows:
        tags = {t["Key"]: t["Value"] for t in r.get("Tags") or []}
        ts = _detect_influx(int(r.get("Timestamp") or 0))
        meas = r.get("Measurement") or ""
        for f in r.get("Fields") or []:
            name = f"{meas}_{f['Key']}" if meas else f["Key"]
            out.append(_key(name, tags, ts, f.get("Value", 0)))
    return sorted(out)


def _exp_opentsdb(rows):
    out = []
    for r in rows:
        tags = {t["Key"]: t["Value"] for t in r.get("Tags") or []}
        raw = int(r.get("Timestamp") or 0)
        if raw == 0:
            ts = DEF_MS
        elif raw & 0x7FFFFFFF00000000 == 0:
            ts = raw * 1000
        else:
            ts = raw
        out.append(_key(r["Metric"], tags, ts, r.get("Value", 0)))
    return sorted(out)


_DIALECTS = {
    "prometheus": (
        lambda spark, text: parse_prometheus_text(
            _lines(spark, text), DEF_MS
        ),
        _exp_prometheus,
    ),
    # the same corpus through the driver-side decode of an import body
    "prometheus-driver": (
        lambda spark, text: parse_prometheus_lines(
            spark, text.split("\n"), DEF_MS
        ),
        _exp_prometheus,
    ),
    "graphite": (
        lambda spark, text: parse_graphite(_lines(spark, text), DEF_MS),
        _exp_graphite,
    ),
    "influx": (
        lambda spark, text: parse_influx(
            _lines(spark, text), default_ts_ms=DEF_MS
        ),
        _exp_influx,
    ),
    "opentsdb": (
        lambda spark, text: parse_opentsdb(
            _lines(spark, text), default_ts_ms=DEF_MS
        ),
        _exp_opentsdb,
    ),
}


def _corpus(dialect):
    return CASES[dialect.removesuffix("-driver")]


def _success_params():
    for d, (run, exp) in _DIALECTS.items():
        for i, case in enumerate(_corpus(d)["success"]):
            yield pytest.param(d, case, id=f"{d}-ok-{i}")


def _failure_params():
    for d in _DIALECTS:
        for i, inp in enumerate(_corpus(d)["failure"]):
            yield pytest.param(d, inp, id=f"{d}-err-{i}")


@pytest.mark.parametrize("dialect,case", list(_success_params()))
def test_parser_golden_success(spark, dialect, case):
    run, exp = _DIALECTS[dialect]
    got = _got_keys(run(spark, case["input"]))
    want = exp(case["rows"])
    assert got == want, f"\ninput={case['input']!r}\ngot={got}\nwant={want}"


@pytest.mark.parametrize("dialect,inp", list(_failure_params()))
def test_parser_golden_failure(spark, dialect, inp):
    run, _ = _DIALECTS[dialect]
    # a failure input produces ZERO rows and never raises
    assert _got_keys(run(spark, inp)) == []


# ---------------------------------------------------------------- zabbix
from victoriametrics_spark.streaming.parsers import parse_zabbix  # noqa: E402


def _exp_zabbix(rows):
    out = []
    for r in rows:
        tags = {t["Key"]: t["Value"] for t in r.get("Tags") or []}
        name = tags.pop("__name__", "")
        out.append(_key(name, tags, int(r.get("Timestamp") or 0), r.get("Value", 0)))
    return sorted(out)


def _run_zabbix(spark, case):
    fl = case["flags"]
    return parse_zabbix(
        _lines(spark, case["input"]),
        add_groups_value=fl["GroupsValue"],
        add_empty_tags_value=fl["EmptyTagsValue"],
        add_duplicate_tags_separator=fl["DuplicateTagsSeparator"],
    )


@pytest.mark.parametrize(
    "case",
    [
        pytest.param(c, id=f"zabbix-ok-{i}")
        for i, c in enumerate(CASES["zabbix"]["success"])
    ],
)
def test_zabbix_golden_success(spark, case):
    got = _got_keys(_run_zabbix(spark, case))
    want = _exp_zabbix(case["rows"])
    assert got == want, f"\ninput={case['input']!r}\ngot={got}\nwant={want}"


@pytest.mark.parametrize(
    "case",
    [
        pytest.param(c, id=f"zabbix-err-{i}")
        for i, c in enumerate(CASES["zabbix"]["failure"])
    ],
)
def test_zabbix_golden_failure(spark, case):
    assert _got_keys(_run_zabbix(spark, case)) == []


# -------------------------------------------------------------- csvimport
from victoriametrics_spark.api.http import IngestAPI  # noqa: E402


def _run_csv(spark, fmt, inp):
    captured = []
    ing = IngestAPI(
        spark,
        sink=lambda df, kind: captured.append(df),
        now_ms_fn=lambda: DEF_MS,
    )
    ing.import_csv(inp, fmt)
    out = []
    for df in captured:
        out += _got_keys(df)
    return sorted(out)


def _exp_csv(rows):
    out = []
    for r in rows:
        tags = {t["Key"]: t["Value"] for t in r.get("Tags") or []}
        ts = int(r.get("Timestamp") or 0) or DEF_MS
        out.append(_key(r["Metric"], tags, ts, r.get("Value", 0)))
    return sorted(out)


@pytest.mark.parametrize(
    "case",
    [
        pytest.param(c, id=f"csv-ok-{i}")
        for i, c in enumerate(CASES["csvimport"]["success"])
    ],
)
def test_csv_golden_success(spark, case):
    got = _run_csv(spark, case["format"], case["input"])
    want = _exp_csv(case["rows"])
    assert got == want, (
        f"\nformat={case['format']!r}\ninput={case['input']!r}"
        f"\ngot={got}\nwant={want}"
    )


@pytest.mark.parametrize(
    "case",
    [
        pytest.param(c, id=f"csv-err-{i}")
        for i, c in enumerate(CASES["csvimport"]["failure"])
    ],
)
def test_csv_golden_failure(spark, case):
    assert _run_csv(spark, case["format"], case["input"]) == []


# ------------------------------------------------------------ opentsdbhttp
from victoriametrics_spark.streaming.parsers import (  # noqa: E402
    parse_opentsdb_http,
)


def _run_opentsdbhttp(spark, text):
    docs = spark.createDataFrame([(text,)], "value string")
    return parse_opentsdb_http(docs, default_ts_ms=DEF_MS)


def _exp_opentsdbhttp(rows):
    out = []
    for r in rows:
        tags = {t["Key"]: t["Value"] for t in r.get("Tags") or []}
        raw = int(r.get("Timestamp") or 0)
        if raw == 0:
            ts = DEF_MS
        elif raw & 0x7FFFFFFF00000000 == 0:
            ts = raw * 1000
        else:
            ts = raw
        out.append(_key(r["Metric"], tags, ts, r.get("Value", 0)))
    return sorted(out)


@pytest.mark.parametrize(
    "case",
    [
        pytest.param(c, id=f"opentsdbhttp-ok-{i}")
        for i, c in enumerate(CASES["opentsdbhttp"]["success"])
    ],
)
def test_opentsdbhttp_golden_success(spark, case):
    got = _got_keys(_run_opentsdbhttp(spark, case["input"]))
    want = _exp_opentsdbhttp(case["rows"])
    assert got == want, f"\ninput={case['input']!r}\ngot={got}\nwant={want}"


@pytest.mark.parametrize(
    "inp",
    [
        pytest.param(c, id=f"opentsdbhttp-err-{i}")
        for i, c in enumerate(CASES["opentsdbhttp"]["failure"])
    ],
)
def test_opentsdbhttp_golden_failure(spark, inp):
    # row-level failures drop rows; request-level JSON errors produce
    # zero rows through the parse fn (the HTTP layer 400s separately)
    assert _got_keys(_run_opentsdbhttp(spark, inp)) == []


# ------------------------------------------------------------ datadog v1/v2
from victoriametrics_spark.streaming.parsers import (  # noqa: E402
    parse_datadog_v1,
    parse_datadog_v2,
)


def _dd_split_tag(tag):
    # datadogutil.SplitTag + the host→exported_host rename
    if ":" in tag:
        name, value = tag.split(":", 1)
    else:
        name, value = tag, "no_label_value"
    if name == "host":
        name = "exported_host"
    return name, value


def _exp_datadogv1(req):
    out = []
    for s in req.get("Series") or []:
        labels = {}
        if s.get("Host"):
            labels["host"] = s["Host"]
        if s.get("Device"):
            labels["device"] = s["Device"]
        for tag in s.get("Tags") or []:
            n, v = _dd_split_tag(tag)
            if n:
                labels[n] = v
        for pt in s.get("Points") or []:
            out.append(
                _key(s["Metric"], labels, int(pt[0] * 1000), pt[1])
            )
    return sorted(out)


def _exp_datadogv2(req):
    out = []
    for s in req.get("Series") or []:
        labels = {}
        for r in s.get("Resources") or []:
            if r.get("Type") and r.get("Name"):
                labels[r["Type"]] = r["Name"]
        for tag in s.get("Tags") or []:
            n, v = _dd_split_tag(tag)
            if n:
                labels[n] = v
        if s.get("SourceTypeName"):
            labels["source_type_name"] = s["SourceTypeName"]
        for pt in s.get("Points") or []:
            out.append(
                _key(
                    s["Metric"], labels,
                    int(pt["Timestamp"]) * 1000, pt["Value"],
                )
            )
    return sorted(out)


_DD = {
    "datadogv1": (parse_datadog_v1, _exp_datadogv1, "datadog_v1"),
    "datadogv2": (parse_datadog_v2, _exp_datadogv2, "datadog_v2"),
}


@pytest.mark.parametrize(
    "dialect,case",
    [
        pytest.param(d, c, id=f"{d}-ok-{i}")
        for d in _DD
        for i, c in enumerate(CASES[d]["success"])
    ],
)
def test_datadog_golden_success(spark, dialect, case):
    run, exp, _ = _DD[dialect]
    docs = spark.createDataFrame([(case["input"],)], "value string")
    got = _got_keys(run(docs))
    want = exp(case["request"])
    assert got == want, f"\ninput={case['input']!r}\ngot={got}\nwant={want}"


@pytest.mark.parametrize(
    "dialect,inp",
    [
        pytest.param(d, c, id=f"{d}-err-{i}")
        for d in _DD
        for i, c in enumerate(CASES[d]["failure"])
    ],
)
def test_datadog_golden_failure(spark, dialect, inp):
    # request-level errors: the reference's Unmarshal returns an error
    # and the HTTP layer 400s — replay through ingest_json
    _, _, api_dialect = _DD[dialect]
    ing = IngestAPI(spark, sink=lambda df, kind: None)
    with pytest.raises(ValueError):
        ing.ingest_json(inp, api_dialect)


# --------------------------------------------------------------- newrelic
from victoriametrics_spark.streaming.parsers import parse_newrelic  # noqa: E402

# parser golden sweep: slow tier — excluded from the default (driver-window) run;
# opt in with `pytest -m slow` (see pytest.ini)
pytestmark = pytest.mark.slow



def _exp_newrelic(rows):
    out = []
    for r in rows:
        labels = {t["Key"]: t["Value"] for t in r.get("Tags") or []}
        ts = int(r.get("Timestamp") or 0) or DEF_MS
        for s in r.get("Samples") or []:
            out.append(_key(s["Name"], labels, ts, s["Value"]))
    return sorted(out)


@pytest.mark.parametrize(
    "case",
    [
        pytest.param(c, id=f"newrelic-ok-{i}")
        for i, c in enumerate(CASES["newrelic"]["success"])
    ],
)
def test_newrelic_golden_success(spark, case):
    docs = spark.createDataFrame([(case["input"],)], "value string")
    got = _got_keys(parse_newrelic(docs, default_ts_ms=DEF_MS))
    want = _exp_newrelic(case["rows"])
    assert got == want, f"\ninput={case['input']!r}\ngot={got}\nwant={want}"


@pytest.mark.parametrize(
    "inp",
    [
        pytest.param(c, id=f"newrelic-err-{i}")
        for i, c in enumerate(CASES["newrelic"]["failure"])
    ],
)
def test_newrelic_golden_failure(spark, inp):
    ing = IngestAPI(spark, sink=lambda df, kind: None)
    with pytest.raises(ValueError):
        ing.ingest_json(inp, "newrelic")


# --------------------------------------- round-12 review regressions
def test_json_dialect_poison_rows_do_not_kill_batch(spark):
    """ANSI-mode resilience (the r10 contract: one poison row must not
    500 the request): oversized timestamps and missing timestamp keys
    drop their own row, the valid rows still land."""
    from victoriametrics_spark.streaming.parsers import (
        parse_datadog_v1,
        parse_datadog_v2,
        parse_newrelic,
        parse_opentsdb_http,
    )

    def one(fn, body, **kw):
        docs = spark.createDataFrame([(body,)], "value string")
        return _got_keys(fn(docs, **kw))

    # opentsdbhttp: 1e300 timestamp overflows int64 → row drops alone
    got = one(
        parse_opentsdb_http,
        '[{"metric":"m","value":1,"timestamp":1e300},'
        '{"metric":"ok","value":2,"timestamp":5}]',
        default_ts_ms=DEF_MS,
    )
    assert got == [_key("ok", {}, 5000, 2.0)]
    # datadog v1: huge float-second point
    got = one(
        parse_datadog_v1,
        '{"series":[{"metric":"m","points":[[1e300,1],[5,2]]}]}',
    )
    assert got == [_key("m", {}, 5000, 2.0)]
    # datadog v2: int64 ts that overflows when multiplied by 1000
    got = one(
        parse_datadog_v2,
        '{"series":[{"metric":"m","points":['
        '{"timestamp":100000000000000000,"value":1},'
        '{"timestamp":5,"value":2}]}]}',
    )
    assert got == [_key("m", {}, 5000, 2.0)]
    # newrelic: event with NO timestamp key takes ingest time; a
    # 1e300 timestamp drops its event's samples
    got = one(
        parse_newrelic,
        '[{"Events":[{"eventType":"S","cpuPercent":1.5},'
        '{"eventType":"S","timestamp":1e300,"v":1}]}]',
        default_ts_ms=DEF_MS,
    )
    assert got == [
        _key("cpuPercent", {"eventType": "S"}, DEF_MS, 1.5)
    ]


def test_datadog_tag_label_survives_absent_field(spark):
    """A device:sda TAG must not be stripped when the top-level device
    FIELD is absent (request_handler.go adds tags unconditionally)."""
    from victoriametrics_spark.streaming.parsers import parse_datadog_v1

    docs = spark.createDataFrame(
        [('{"series":[{"metric":"m","points":[[1,1]],'
          '"tags":["device:sda"]}]}',)],
        "value string",
    )
    (row,) = parse_datadog_v1(docs).collect()
    assert dict(row["labels"]) == {"device": "sda"}
