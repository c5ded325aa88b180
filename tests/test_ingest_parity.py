"""POST / against tests/fixtures/ingest_parity.json, which the earlier
from_json POST path wrote (tools/ingest_parity.py): every body keeps its
status, reply, written rows and state. The stream front-end,
`ingest_batch(parse_envelopes(raw))`, yields the same points for every
body POST / accepts."""

from __future__ import annotations

import json

import pyarrow as pa
import pytest

from api_to_parquet_spark import ingest
from api_to_parquet_spark.schemas import PARTITION_COLUMNS
from tools.ingest_parity import FIXTURE, capture

with open(FIXTURE) as f:
    CASES = json.load(f)
ACCEPTED = [name for name, case in CASES.items() if case["status"] == 200]


@pytest.mark.parametrize("name", list(CASES))
def test_post_matches_fixture(spark, tmp_path, name):
    case = CASES[name]
    got = {"body": case["body"], **capture(spark, case["body"], str(tmp_path))}
    assert json.dumps(got) == json.dumps(case)


@pytest.mark.parametrize("name", ACCEPTED)
def test_stream_front_end_matches_fixture(spark, name):
    case = CASES[name]
    raw = spark.createDataFrame(pa.table({"value": [case["body"]]}))
    points, rejected = ingest.ingest_batch(ingest.parse_envelopes(raw))
    assert rejected.count() == 0
    rows = [r.asDict() for r in points.drop(*PARTITION_COLUMNS).collect()]
    (written,) = case["files"].values()
    assert json.dumps(rows) == json.dumps(written)
