"""Ingest pipeline fixtures from FIXTURES.md §§2-4: validation, zero-fill,
explode, partition derivation, batch stats."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from api_to_parquet_spark import ingest

# Payloads use the schema's field casing (from_json matches field names
# exactly; the wire casing is part of our engine's contract).
FULL_ROW = {
    "Timestamp": 1698346800000,
    "TimeOffsetHours": 2,
    "PointId": "p-1",
    "Sequence": 7,
    "Project": "proj-a",
    "Value": 4.25,
    "Res": "15m",
    "Quality": 99,
}
SPARSE_ROW = {"Timestamp": 1698346800001, "Value": 1.5}


def envelope(content, id="batch-1", source="factory-1",
             time_generated=1698346800, file="factory-1/2023/10/26/19/a.parquet"):
    return json.dumps(
        {
            "content": content,
            "id": id,
            "source": source,
            "timeGenerated": time_generated,
            "file": file,
        }
    )


def raw_df(spark, payloads):
    """The typed envelope frame of raw JSON payloads, parsed as the
    streams parse them."""
    return ingest.parse_envelopes(
        spark.createDataFrame([(p,) for p in payloads], ["value"])
    )


def test_parse_and_explode(spark):
    points, rejected = ingest.ingest_batch(
        raw_df(spark, [envelope([FULL_ROW, SPARSE_ROW])])
    )
    rows = points.orderBy("Timestamp").collect()
    assert rejected.count() == 0
    assert len(rows) == 2
    full = rows[0]
    assert full["PointId"] == "p-1"
    assert full["Value"] == 4.25
    assert full["Quality"] == 99
    assert full["batch_id"] == "batch-1"


def test_zero_fill_not_null(spark):
    """SURVEY.md §1.2: missing fields become Go zero values, never NULL."""
    points, _ = ingest.ingest_batch(raw_df(spark, [envelope([SPARSE_ROW])]))
    row = points.collect()[0]
    assert row["PointId"] == ""
    assert row["Project"] == ""
    assert row["Res"] == ""
    assert row["TimeOffsetHours"] == 0
    assert row["Sequence"] == 0
    assert row["Quality"] == 0
    assert row["Value"] == 1.5


def test_invalid_envelopes_rejected(spark):
    """FIXTURES.md §4 invalid_envelope: file=""/timeGenerated=0/id=""/
    content=[] are all rejected (reference 400s or panics; we reject)."""
    payloads = [
        envelope([FULL_ROW], file=""),
        envelope([FULL_ROW], time_generated=0),
        envelope([FULL_ROW], id=""),
        envelope([]),  # reference panics here (src/main.go:278); we reject
        envelope([FULL_ROW]),  # the one valid envelope
    ]
    points, rejected = ingest.ingest_batch(raw_df(spark, payloads))
    assert rejected.count() == 4
    assert points.count() == 1


def test_partition_derivation(spark):
    points, _ = ingest.ingest_batch(raw_df(spark, [envelope([FULL_ROW])]))
    row = points.collect()[0]
    assert (row["source"], row["year"], row["month"], row["day"], row["hour"]) == (
        "factory-1",
        2023,
        10,
        26,
        19,
    )


def test_partition_derivation_bad_path(spark):
    points, _ = ingest.ingest_batch(
        raw_df(spark, [envelope([FULL_ROW], file="not-a-partitioned-path.parquet")])
    )
    row = points.collect()[0]
    assert row["source"] == "unknown"
    assert row["year"] == 0


def test_batch_stats(spark):
    points, _ = ingest.ingest_batch(
        raw_df(spark, [envelope([FULL_ROW, SPARSE_ROW])])
    )
    stats = ingest.batch_stats(points).collect()[0]
    assert stats["entries"] == 2
    assert stats["max_timestamp"] == 1698346800001


def test_wire_format_numeric_coercion(spark):
    """SURVEY.md §1.1: the wire format is 'whatever JSON numbers coerce
    into' — the load generator sends Value as int and TimeOffsetHours as
    int8 (reference tests/main.go:13-22). Integral JSON numbers land in
    double/long columns; fractional stays exact."""
    rows = [
        dict(SPARSE_ROW, Timestamp=1, Value=7),  # int-valued Value
        {"Timestamp": 2, "Value": 4.5, "TimeOffsetHours": 3, "Sequence": 9},
    ]
    points, rejected = ingest.ingest_batch(raw_df(spark, [envelope(rows)]))
    assert rejected.count() == 0
    got = {r["Timestamp"]: r for r in points.collect()}
    assert got[1]["Value"] == 7.0 and isinstance(got[1]["Value"], float)
    assert got[2]["Value"] == 4.5
    assert got[2]["TimeOffsetHours"] == 3 and got[2]["Sequence"] == 9
    # zero-fill applies to the omitted fields of the sparse rows
    assert got[1]["TimeOffsetHours"] == 0 and got[1]["PointId"] == ""


def test_mixed_epoch_units_left_opaque(spark):
    """SURVEY.md §1.4: engine never interprets epochs — seconds and millis
    coexist; comparisons only."""
    secs = dict(SPARSE_ROW, Timestamp=1698346800)
    millis = dict(SPARSE_ROW, Timestamp=1698346800000)
    points, _ = ingest.ingest_batch(raw_df(spark, [envelope([secs, millis])]))
    got = {r["Timestamp"] for r in points.collect()}
    assert got == {1698346800, 1698346800000}
