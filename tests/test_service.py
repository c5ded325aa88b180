"""HTTP service parity: reference routes exercised over real HTTP
(stdlib client against an ephemeral-port server thread)."""

from __future__ import annotations

import glob
import http.client
import json
import os
import subprocess
import sys
import threading
import urllib.error
import urllib.request
from urllib.parse import urlparse

import pytest

from api_to_parquet_spark import service


def _post(url: str, payload: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _get(url: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(url) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _envelope(file: str, ts_values, time_generated: int) -> dict:
    return {
        "content": [
            {"PointId": f"p{t % 3}", "Timestamp": t, "Value": float(t)}
            for t in ts_values
        ],
        "id": "batch-1",
        "source": "s",
        "timeGenerated": time_generated,
        "file": file,
    }


@pytest.fixture
def server(spark, tmp_path):
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state")
    )
    httpd = service.make_server(svc)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}", svc
    httpd.shutdown()


def test_ingest_state_replay_roundtrip(spark, server):
    base, svc = server
    key = "factory-1/2023/10/26/19/a.parquet"
    status, body = _post(base + "/", _envelope(key, [100, 300, 200], 7))
    assert status == 200
    assert body == {"id": "batch-1", "timeGenerated": 7, "maxTimestamp": 300}

    status, st = _get(base + "/")
    assert (status, st["lastTimeGenerated"], st["maxTimestamp"]) == (200, 7, 300)

    # replay the same file key with fewer rows: overwrite (no dup rows),
    # state stays monotonic on max, last-write-wins on timeGenerated
    status, body = _post(base + "/", _envelope(key, [150], 9))
    assert status == 200 and body["maxTimestamp"] == 300
    rows = spark.read.parquet(f"{svc.lake_root}/{key}").collect()
    assert [r["Timestamp"] for r in rows] == [150]
    _, st = _get(base + "/")
    assert (st["lastTimeGenerated"], st["maxTimestamp"]) == (9, 300)


def test_reference_error_contract(server):
    base, _ = server
    env = _envelope("f/2024/01/01/00/a.parquet", [1], 5)
    for field, fragment in [
        ("file", "property file is empty"),
        ("timeGenerated", "property timeGenerated is empty"),
        ("id", "property id is empty"),
    ]:
        bad = {**env, field: "" if field != "timeGenerated" else 0}
        status, body = _post(base + "/", bad)
        assert status == 400 and fragment in body["error"]
    # empty content: clean 400 where the reference panics (main.go:278)
    status, body = _post(base + "/", {**env, "content": []})
    assert status == 400 and "content" in body["error"]


def test_mistyped_envelope_is_rejected_before_spark(spark, server):
    """A body whose top-level types the typed parse would drop (or
    coerce) gets a 400 up front, never a 200 that wrote nothing."""
    base, svc = server
    key = "f/2024/01/01/00/a.parquet"
    env = _envelope(key, [1], 5)
    for override, fragment in [
        ({"timeGenerated": "abc"}, "timeGenerated is not an integer"),
        ({"timeGenerated": "7"}, "timeGenerated is not an integer"),
        ({"timeGenerated": 7.0}, "timeGenerated is not an integer"),
        ({"timeGenerated": True}, "timeGenerated is not an integer"),
        ({"timeGenerated": 2**70}, "timeGenerated is not an integer"),
        ({"file": 5}, "property file is not a string"),
        ({"id": 5}, "property id is not a string"),
        ({"source": 5}, "property source is not a string"),
        ({"content": [1]}, "content is not a list of objects"),
        ({"content": {"Timestamp": 1}}, "content is not a list of objects"),
    ]:
        status, body = _post(base + "/", {**env, **override})
        assert status == 400 and fragment in body["error"], (override, body)
    status, body = _post(base + "/", [env])
    assert status == 400 and "not an object" in body["error"]
    assert not os.path.exists(svc.lake_root)
    _, st = _get(base + "/")
    assert (st["lastTimeGenerated"], st["maxTimestamp"]) == (0, 0)
    # a null source still parses and lands, as before
    status, _ = _post(base + "/", {**env, "source": None})
    assert status == 200
    rows = spark.read.parquet(f"{svc.lake_root}/{key}").collect()
    assert [r["Timestamp"] for r in rows] == [1]


def _raw_post(base: str, length: str | None, body: bytes = b"") -> tuple[int, dict]:
    """POST / with a hand-set Content-Length header (None: no header)."""
    u = urlparse(base)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=60)
    try:
        conn.putrequest("POST", "/")
        if length is not None:
            conn.putheader("Content-Length", length)
        conn.endheaders()
        if body:
            conn.send(body)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def test_content_length_guard(server):
    """Missing, garbage and negative lengths are a 400 (a negative one
    used to block in rfile.read(-1) until the client hung up); a length
    above the cap is a 413, answered without reading the body."""
    base, _ = server
    for length in (None, "abc", "-1", "12x", ""):
        status, body = _raw_post(base, length)
        assert status == 400 and "Content-Length" in body["error"], length
    status, body = _raw_post(base, str(service._BODY_BYTE_CAP + 1))
    assert status == 413 and "exceeds" in body["error"]
    # the server still serves afterwards
    payload = json.dumps(_envelope("f/2024/01/01/00/a.parquet", [3], 4))
    status, body = _raw_post(base, str(len(payload)), payload.encode())
    assert status == 200 and body["maxTimestamp"] == 3


def test_post_parses_body_once(spark, server, monkeypatch):
    """One POST parses its body once and runs exactly 1 Spark job, the
    lake write: the state is read and committed on the driver, so GET /
    runs none. The envelope frame is a JVM-side LocalTableScan (no
    Python worker pickles the body); the key collect is folded on the
    driver and runs no job; neither the envelopes nor the points are
    cached, during the POST or after it (looked up by plan: other tests
    may leave the shared session's cache non-empty)."""
    from pyspark.sql import DataFrame

    from api_to_parquet_spark import ingest, lake, state

    base, svc = server
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()

    def cached(df):
        return cache.lookupCachedData(df._jdf).isDefined()

    seen: dict = {}

    def spy(module, attr, group=None):
        real = getattr(module, attr)

        def wrapped(*args, **kwargs):
            frames = [a for a in args if isinstance(a, DataFrame)]
            seen[attr] = (args, any(cached(df) for df in frames))
            if group is None:
                return real(*args, **kwargs)
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, attr)
            try:
                return real(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)

        monkeypatch.setattr(module, attr, wrapped)

    # the state exists before the measured POST, as it does for every
    # POST but a lake's first (whose state read finds no path)
    status, _ = _post(base + "/", _envelope("f/2024/01/01/00/w.parquet", [1], 1))
    assert status == 200
    spy(ingest, "ingest_batch")
    spy(ingest, "batch_keys", "test_post_parses_body_once_keys")
    spy(lake, "write_batch_files")
    spy(state, "update_state")
    group = "test_post_parses_body_once"
    real_ingest = svc.ingest_envelope

    def grouped(body):
        # the handler thread's jobs, tagged where the route runs them
        sc.setJobGroup(group, "one POST")
        try:
            return real_ingest(body)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(svc, "ingest_envelope", grouped)
    key = "factory-1/2023/10/26/19/a.parquet"
    status, _ = _post(base + "/", _envelope(key, range(100), 7))
    assert status == 200

    raw = seen["ingest_batch"][0][0]
    plan = raw._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert seen["batch_keys"][0][0] is raw
    keys = seen["write_batch_files"][0][1]
    assert [tuple(k) for k in keys] == [(key, 7, 99)]
    assert seen["update_state"][0][2] is keys
    assert not any(was_cached for _, was_cached in seen.values())
    points = seen["write_batch_files"][0][0]
    assert not cached(raw) and not cached(points)
    assert sc.statusTracker().getJobIdsForGroup(group + "_keys") == []
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    sc.setJobGroup(group + "_get", "GET /")
    try:
        assert svc.get_state() == (200, {"lastTimeGenerated": 7, "maxTimestamp": 99})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group + "_get") == []


def test_failed_write_is_a_500(spark, tmp_path):
    """A lake write that fails answers 500 with an error, where the
    connection used to drop with no reply; the same server code then
    serves a good service."""
    (tmp_path / "plain").write_text("a regular file")

    def serve(lake_root):
        svc = service.LakeService(spark, lake_root, str(tmp_path / "state"))
        httpd = service.make_server(svc)
        threading.Thread(target=httpd.serve_forever, daemon=True).start()
        return httpd, f"http://127.0.0.1:{httpd.server_address[1]}/"

    env = _envelope("f/2024/01/01/00/a.parquet", [3], 4)
    httpd, base = serve(str(tmp_path / "plain" / "lake"))
    try:
        status, reply = _post(base, env)
        assert status == 500 and reply["error"]
        # the cause, not the Py4J wrapper's "An error occurred while calling"
        assert "ParentNotDirectoryException" in reply["error"], reply
        assert "An error occurred while calling" not in reply["error"], reply
    finally:
        httpd.shutdown()
    httpd, base = serve(str(tmp_path / "lake"))
    try:
        status, reply = _post(base, env)
        assert (status, reply["maxTimestamp"]) == (200, 3)
    finally:
        httpd.shutdown()


_POINT_BODY = (
    '{"content": [{"Timestamp": 1, "Value": 1.5}, {%s}],'
    ' "id": "b", "source": "s", "timeGenerated": 5,'
    ' "file": "f/2024/01/01/00/a.parquet"}'
)
# an unknown point field holding an object in one point and a string in
# the next: the inference probe that names a mistyped integer fails on it
_TWO_TYPED_X = '"x": {"a": 1}}, {"x": "s"'


@pytest.mark.parametrize(
    "field, problem",
    [
        ('"Value": "2"', "content property Value is not a number"),
        ('"Timestamp": 1.5', "content property Timestamp is not an integer"),
        ('"Timestamp": 1e3', "content property Timestamp is not an integer"),
        (
            '"Timestamp": 92233720368547758070',
            "content property Timestamp is not an integer",
        ),
        ('"Quality": true', "content property Quality is not an integer"),
        ('"PointId": 7', "content property PointId is not a string"),
        ('"Value": NaN', "content property Value is not a number"),
        ('"Value": -Infinity', "content property Value is not a number"),
        ('"Res": "a", "Res": "b"', "content property Res is repeated"),
        (
            '"Timestamp": 1.5, ' + _TWO_TYPED_X,
            "content property Timestamp is not an integer",
        ),
        (
            '"Quality": 2.5, ' + _TWO_TYPED_X,
            "content property Quality is not an integer",
        ),
    ],
)
def test_mistyped_point_field_is_refused(spark, server, monkeypatch, field, problem):
    """A point value its field's type cannot hold exactly is a 400 that
    names the field, as the reference's BindJSON refuses it; it used to
    land zero-filled (or "7" for a number PointId). The repeated key is
    a documented divergence: Go and Python's json keep the last value.
    Nothing reaches the lake or the state. Naming the field costs at
    most one more parse of the body, or, when an unknown field holding
    two JSON types defeats that probe (it used to answer 500), at most
    one parse per int64 field in all."""
    import pyarrow.json as pj

    parses = []
    read_json = pj.read_json
    monkeypatch.setattr(
        pj, "read_json", lambda *a, **k: parses.append(1) or read_json(*a, **k)
    )
    base, svc = server
    body = _POINT_BODY % field
    status, reply = _raw_post(base, str(len(body)), body.encode())
    assert (status, reply) == (400, {"error": f"Malformed request: {problem}"})
    max_parses = 1 + len(service._INT_FIELDS) if _TWO_TYPED_X in field else 2
    assert 1 <= len(parses) <= max_parses
    assert not os.path.exists(svc.lake_root)
    _, st = _get(base + "/")
    assert (st["lastTimeGenerated"], st["maxTimestamp"]) == (0, 0)


def test_repeated_envelope_key_is_refused(spark, server):
    base, svc = server
    env = json.dumps(_envelope("f/2024/01/01/00/a.parquet", [1], 5))
    body = env[:-1] + ', "id": "again"}'
    status, reply = _raw_post(base, str(len(body)), body.encode())
    assert status == 400
    assert reply["error"] == "Malformed request: property id is repeated"
    assert not os.path.exists(svc.lake_root)


def test_non_object_documents_do_not_crash_the_reader(tmp_path):
    """pyarrow's JSON reader kills the process when the first document
    is `null`; a `null` (or any non-object) after an object reads as a
    row or a parse error. Run in a child process, so a crash fails the
    test instead of the suite: every body keeps the status the json.loads
    front end gave it (500 for a trailing document, 400 for a body that
    is not an object), and none reaches Spark."""
    env = json.dumps(_envelope("f/2024/01/01/00/a.parquet", [1], 5))
    bodies = {
        env + "\nnull": 500,
        env + " null": 500,
        env + " 5": 500,
        env + " []": 500,
        env + "\n" + env: 500,
        "null": 400,
        " \r\n null": 400,
        "null " + env: 400,
    }
    child = (
        "import json, sys\n"
        "from api_to_parquet_spark import service\n"
        "svc = service.LakeService(None, sys.argv[1], sys.argv[2])\n"
        "for body in json.loads(sys.stdin.read()):\n"
        "    print(svc.ingest_envelope(body.encode())[0], flush=True)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", child, str(tmp_path / "lake"), str(tmp_path / "s")],
        input=json.dumps(list(bodies)),
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=300,
    )
    assert out.returncode == 0, (out.returncode, out.stdout, out.stderr[-2000:])
    assert [int(x) for x in out.stdout.split()] == list(bodies.values())
    assert not os.path.exists(tmp_path / "lake")


def test_invalid_utf8_body_is_500(server):
    """Arrow's reader would store the bytes as is; the body is refused
    as malformed, as it was when Python decoded it first."""
    base, svc = server
    env = json.dumps(_envelope("f/2024/01/01/00/a.parquet", [1], 5))
    body = env.replace('"batch-1"', '"batch-\xff"').encode("latin-1")
    status, reply = _raw_post(base, str(len(body)), body)
    assert (status, reply) == (500, {"error": "invalid JSON"})
    assert not os.path.exists(svc.lake_root)


def test_written_file_schema_matches_stream_front_end(spark, server, tmp_path):
    """The file a POST writes has the 8 point columns `required` and the
    same Spark row metadata as the stream front-end's file for the same
    body: the Arrow-built envelope frame leaves query `lake_bytes_per_row`
    where the from_json one had it."""
    import pyarrow.parquet as pq

    from api_to_parquet_spark import ingest, lake
    from api_to_parquet_spark.schemas import POINT_COLUMNS

    base, svc = server
    key = "factory-1/2023/10/26/19/a.parquet"
    env = _envelope(key, [100, 300], 7)
    status, _ = _post(base + "/", env)
    assert status == 200
    raw = spark.createDataFrame([(json.dumps(env),)], ["value"])
    envelopes = ingest.parse_envelopes(raw)
    points, _ = ingest.ingest_batch(envelopes)
    keys = ingest.batch_keys(envelopes)
    lake.write_batch_files(points, keys, str(tmp_path / "stream"))

    def schema(root):
        (path,) = glob.glob(os.path.join(root, key, "*.parquet"))
        return pq.read_schema(path)

    posted, streamed = schema(svc.lake_root), schema(str(tmp_path / "stream"))
    assert [posted.field(c).nullable for c in POINT_COLUMNS] == [False] * 8
    meta = b"org.apache.spark.sql.parquet.row.metadata"
    assert posted.metadata[meta] == streamed.metadata[meta]
    assert posted == streamed


def test_api_key_gate(spark, tmp_path):
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state"), api_key="s3cret"
    )
    httpd = service.make_server(svc)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        status, body = _get(base + "/")
        assert status == 401 and body["error"] == "unauthorized"
        status, _ = _get(base + "/?key=s3cret")
        assert status == 200
    finally:
        httpd.shutdown()


def test_query_route_runs_kql_natively(spark, server):
    base, svc = server
    key = "factory-1/2023/10/26/19/a.parquet"
    _post(base + "/", _envelope(key, [100, 300, 200], 7))
    from api_to_parquet_spark import lake

    lake.read_batch_tree(spark, svc.lake_root, "factory-1").createOrReplaceTempView(
        "TelemetryData"
    )
    status, body = _post(base + "/query", {"db": "x", "csl": "TelemetryData | count"})
    assert status == 200
    t0 = body["Tables"][0]
    assert t0["TableName"] == "Table_0"
    assert t0["Columns"] == [
        {"ColumnName": "Count", "DataType": "Int64", "ColumnType": "long"}
    ]
    assert t0["Rows"] == [[3]]
    status, body = _post(
        base + "/query",
        {"csl": "TelemetryData | where Timestamp >= 200 | project PointId, Timestamp | sort by Timestamp asc"},
    )
    assert status == 200
    t0 = body["Tables"][0]
    assert [c["ColumnName"] for c in t0["Columns"]] == ["PointId", "Timestamp"]
    assert [r[1] for r in t0["Rows"]] == [200, 300]
    # fork is supported since round 4 — it returns labeled branches
    status, body = _post(base + "/query", {"csl": "TelemetryData | fork (count) (take 1)"})
    assert status == 200 and len(body["Tables"][0]["Rows"]) == 2
    # `consume` is supported since round 8: empty result, 200
    status, body = _post(base + "/query", {"csl": "TelemetryData | consume"})
    assert status == 200 and body["Tables"][0]["Rows"] == []
    # the engine-native shape stays reachable behind ?format=simple
    status, body = _post(
        base + "/query?format=simple", {"csl": "TelemetryData | count"}
    )
    assert status == 200 and body["rows"] == [{"Count": 3}]
    status, body = _post(base + "/query", {"csl": "TelemetryData | egest"})
    assert status == 400 and "unsupported" in body["error"]
    # `evaluate python` exec()s caller code — the HTTP surface never
    # enables it (round-7 advice: parity with ADX's default-disabled,
    # sandboxed plugin; here there is no sandbox, so it stays off)
    status, body = _post(
        base + "/query",
        {
            "csl": "TelemetryData | evaluate python(typeof(*),"
            " 'import os; os.system(\"true\"); result = df')"
        },
    )
    assert status == 400 and "disabled" in body["error"]


def test_query_route_sql_dialect(spark, tmp_path):
    """sql_dialect='sql' runs the body as raw Spark SQL instead of KQL."""
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state"),
        sql_dialect="sql",
    )
    status, body = svc.query(
        json.dumps({"csl": "SELECT 1 AS one, 'x' AS s"}).encode()
    )
    assert status == 200 and body["Tables"][0]["Rows"] == [[1, "x"]]
    status, body = svc.query(
        json.dumps({"csl": "SELECT 1 AS one, 'x' AS s"}).encode(),
        fmt="simple",
    )
    assert status == 200 and body["rows"] == [{"one": 1, "s": "x"}]
    status, body = svc.query(json.dumps({"csl": "SELECT * FROM nope"}).encode())
    assert status == 400 and "nope" in body["error"]
    status, body = svc.query(b"not json")
    assert status == 400


def test_query_route_explain(spark, server):
    """{"explain": true} returns the physical plan (Kusto's
    `.show queryplan` twin) — pushed filters visible to the caller."""
    base, svc = server
    key = "factory-1/2023/10/26/19/a.parquet"
    _post(base + "/", _envelope(key, [100, 300], 7))
    from api_to_parquet_spark import lake

    lake.read_batch_tree(spark, svc.lake_root).createOrReplaceTempView(
        "TelemetryData"
    )
    status, body = _post(
        base + "/query",
        {"csl": "TelemetryData | where Timestamp >= 200 | count",
         "explain": True},
    )
    assert status == 200 and "Scan parquet" in body["plan"]
    assert "PushedFilters" in body["plan"]


def test_query_truncation_flag(spark, tmp_path, monkeypatch):
    """Responses over the row cap carry Kusto's partial-results signal
    (a root Exceptions entry in the v1 envelope; "truncated": true in
    ?format=simple); at-or-under the cap carries no flag — so a client
    can distinguish "exactly cap rows" from "truncated"."""
    monkeypatch.setattr(service, "_QUERY_ROW_CAP", 50)
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state"),
        sql_dialect="sql",
    )
    status, body = svc.query(
        json.dumps({"csl": "SELECT id FROM range(51)"}).encode()
    )
    assert status == 200
    assert "E_QUERY_RESULT_SET_TOO_LARGE" in body["Exceptions"][0]
    assert len(body["Tables"][0]["Rows"]) == 50
    status, body = svc.query(
        json.dumps({"csl": "SELECT id FROM range(50)"}).encode()
    )
    assert status == 200
    assert "Exceptions" not in body
    assert len(body["Tables"][0]["Rows"]) == 50
    status, body = svc.query(
        json.dumps({"csl": "SELECT id FROM range(51)"}).encode(),
        fmt="simple",
    )
    assert status == 200
    assert body["truncated"] is True and len(body["rows"]) == 50


def test_query_kusto_v1_envelope_types(spark, tmp_path):
    """Round-9 verdict #2: the default /query response is the Kusto
    REST v1 envelope the reference's clients parse (the reference
    returns ADX's body verbatim, src/main.go:113-114): Tables/
    TableName/Columns/Rows, positional row ARRAYS (not dicts), the
    v1 .NET DataType names (bool -> SByte), ISO-8601 Z datetimes with
    7-digit fractions, timespan strings, and inline dynamic values."""
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state"),
        sql_dialect="sql",
    )
    status, body = svc.query(
        json.dumps(
            {
                "csl": "SELECT 1 AS i, CAST(1.5 AS DOUBLE) AS r,"
                " 'x' AS s, true AS b,"
                " TIMESTAMP'2024-01-02 03:04:05.123456' AS ts,"
                " array(1, 2) AS dyn,"
                " INTERVAL '1 02:03:04.5' DAY TO SECOND AS dur"
            }
        ).encode()
    )
    assert status == 200
    assert list(body) == ["Tables"]
    t0 = body["Tables"][0]
    assert t0["TableName"] == "Table_0"
    assert t0["Columns"] == [
        {"ColumnName": "i", "DataType": "Int32", "ColumnType": "int"},
        {"ColumnName": "r", "DataType": "Double", "ColumnType": "real"},
        {"ColumnName": "s", "DataType": "String", "ColumnType": "string"},
        {"ColumnName": "b", "DataType": "SByte", "ColumnType": "bool"},
        {
            "ColumnName": "ts",
            "DataType": "DateTime",
            "ColumnType": "datetime",
        },
        {"ColumnName": "dyn", "DataType": "Object", "ColumnType": "dynamic"},
        {
            "ColumnName": "dur",
            "DataType": "TimeSpan",
            "ColumnType": "timespan",
        },
    ]
    assert t0["Rows"] == [
        [
            1,
            1.5,
            "x",
            True,
            "2024-01-02T03:04:05.1234560Z",
            [1, 2],
            "1.02:03:04.5000000",
        ]
    ]


def test_query_v1_type_mapping_refinements(spark, tmp_path):
    """Round-10 advice: decimal columns carry the .NET SqlTypes name
    (SqlDecimal, not Decimal), and EVERY day-time interval variant —
    not just the exact 'interval day to second' simpleString — maps to
    TimeSpan, matching the [d.]hh:mm:ss cell encoding. Year-month
    intervals have no ADX scalar type and stay dynamic."""
    assert service._kusto_column("d", "decimal(18,2)") == {
        "ColumnName": "d",
        "DataType": "SqlDecimal",
        "ColumnType": "decimal",
    }
    for st in (
        "interval day to second",
        "interval hour to second",
        "interval day",
        "interval minute",
    ):
        assert service._kusto_column("t", st)["DataType"] == "TimeSpan", st
    assert (
        service._kusto_column("ym", "interval year to month")["DataType"]
        == "Object"
    )
    # end-to-end: a decimal cell through /query
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state"),
        sql_dialect="sql",
    )
    status, body = svc.query(
        json.dumps(
            {"csl": "SELECT CAST(1.25 AS DECIMAL(10,2)) AS d,"
             " INTERVAL '02:03:04' HOUR TO SECOND AS dur"}
        ).encode()
    )
    assert status == 200
    cols = body["Tables"][0]["Columns"]
    assert cols[0]["DataType"] == "SqlDecimal"
    assert cols[1] == {
        "ColumnName": "dur",
        "DataType": "TimeSpan",
        "ColumnType": "timespan",
    }
    assert body["Tables"][0]["Rows"] == [["1.25", "02:03:04"]]


def test_kusto_value_naive_datetime_is_driver_local():
    """Round-10 advice (medium): collect() yields TIMESTAMP cells as
    NAIVE datetimes in the DRIVER's OS-local timezone
    (TimestampType.fromInternal uses datetime.fromtimestamp), so the Z
    encoding must first recover the instant via the local-time
    assumption instead of stamping naive wall time as-if-UTC. Pin a
    non-UTC TZ and check the offset is applied; TIMESTAMP_NTZ cells
    (ntz=True) are wall-clock and encode verbatim."""
    import datetime as dt
    import os
    import time

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "Etc/GMT-5"  # fixed UTC+5, no DST
    time.tzset()
    try:
        naive = dt.datetime(2026, 1, 1, 12, 0, 0, 250000)
        assert (
            service._kusto_value(naive)
            == "2026-01-01T07:00:00.2500000Z"
        )
        assert (
            service._kusto_value(naive, ntz=True)
            == "2026-01-01T12:00:00.2500000Z"
        )
        aware = dt.datetime(
            2026, 1, 1, 12, 0, 0,
            tzinfo=dt.timezone(dt.timedelta(hours=2)),
        )
        assert (
            service._kusto_value(aware) == "2026-01-01T10:00:00.0000000Z"
        )
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_query_join_collision_suffixes_v1_columns(spark, tmp_path):
    """Round-10 verdict #5: a KQL join whose right side collides with
    a left column must surface ADX's suffixed names (value, value1) in
    the v1 Columns — for both the terminal-duplicate shape (fast plan
    analyzes clean, duplicate output names trigger the clash retry)
    and the later-reference shape (UNRESOLVED_COLUMN value1 triggers
    it)."""
    spark.sql("SELECT 1 AS k, 10 AS value").createOrReplaceTempView(
        "svc_jl"
    )
    spark.sql("SELECT 1 AS k, 20 AS value").createOrReplaceTempView(
        "svc_jr"
    )
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state")
    )
    status, body = svc.query(
        json.dumps(
            {"csl": "svc_jl | join kind=inner (svc_jr) on k"}
        ).encode()
    )
    assert status == 200
    names = [c["ColumnName"] for c in body["Tables"][0]["Columns"]]
    assert names == ["k", "value", "value1"]
    assert body["Tables"][0]["Rows"] == [[1, 10, 20]]
    status, body = svc.query(
        json.dumps(
            {
                "csl": "svc_jl | join kind=inner (svc_jr) on k"
                " | project value, value1"
            }
        ).encode()
    )
    assert status == 200
    names = [c["ColumnName"] for c in body["Tables"][0]["Columns"]]
    assert names == ["value", "value1"]


def test_query_round11_surface_through_service(spark, tmp_path):
    """Round-11 battery surfaces through the wire path: a commented
    multi-line dashboard paste (with a // inside a string), a
    table('T') reference, and a negative-timespan cell encoding in
    the v1 envelope."""
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state"),
    )
    spark.sql(
        "SELECT * FROM VALUES (1, 'a//b'), (2, 'plain') AS t(k, s)"
    ).createOrReplaceTempView("svc_r11")
    status, body = svc.query(
        json.dumps(
            {
                "csl": "table('svc_r11') // the table\n"
                "| where s == 'a//b' // url-ish literal survives\n"
                "| project k, s;",
            }
        ).encode()
    )
    assert status == 200
    assert body["Tables"][0]["Rows"] == [[1, "a//b"]]
    # negative timespan cell: TimeSpan column, sign-carrying encoding
    status, body = svc.query(
        json.dumps({"csl": "print t = totimespan('-01:30:00')"}).encode()
    )
    assert status == 200
    t0 = body["Tables"][0]
    assert t0["Columns"][0]["DataType"] == "TimeSpan"
    cell = t0["Rows"][0][0]
    assert cell.startswith("-") and "1:30:00" in cell, cell


def test_query_round11_extension_surfaces(spark, tmp_path):
    """Round-11 extension-session surfaces through /query: the
    partition operator with a subpipe (hint stripped, per-key top),
    search boolean term combinations, has with a column term, real
    literals as doubles (v1 DataType Double, not SqlDecimal), and a
    to*() null on malformed input instead of an HTTP 400."""
    spark.sql(
        "SELECT id, kind, CAST(v AS DOUBLE) AS v FROM VALUES"
        " (1, 'view', 10.0), (2, 'view', 30.0), (3, 'click', 20.0),"
        " (4, 'click', 5.0), (5, 'click', 7.0) AS t(id, kind, v)"
    ).createOrReplaceTempView("svc_r11")
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state")
    )
    status, body = svc.query(
        json.dumps(
            {
                "csl": "svc_r11 | partition hint.strategy=shuffle by"
                " kind (top 1 by v | project kind, v)"
                " | sort by kind asc"
            }
        ).encode()
    )
    assert status == 200
    assert body["Tables"][0]["Rows"] == [["click", 20.0], ["view", 30.0]]
    # real literal arithmetic is DOUBLE on the wire
    status, body = svc.query(
        json.dumps({"csl": "print x = 0.1 + 0.2"}).encode()
    )
    assert status == 200
    col = body["Tables"][0]["Columns"][0]
    assert col["DataType"] == "Double" and col["ColumnType"] == "real"
    assert body["Tables"][0]["Rows"][0][0] == 0.30000000000000004
    # search combos + has-column through the service path
    status, body = svc.query(
        json.dumps(
            {
                "csl": 'search in (svc_r11) kind:"view" or'
                ' kind:"click" | count'
            }
        ).encode()
    )
    assert status == 200 and body["Tables"][0]["Rows"] == [[5]]
    status, body = svc.query(
        json.dumps(
            {"csl": "svc_r11 | where kind has kind | count"}
        ).encode()
    )
    assert status == 200 and body["Tables"][0]["Rows"] == [[5]]
    # malformed to*() input is a null cell, not an error
    status, body = svc.query(
        json.dumps({"csl": "print x = toint('12.5')"}).encode()
    )
    assert status == 200 and body["Tables"][0]["Rows"] == [[None]]
