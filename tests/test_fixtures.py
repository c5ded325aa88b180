"""FIXTURES.md §4 behavioral fixtures not covered elsewhere:
startup_smoke (reference src/main.go:190-209) and load_shape
(tests/main.go:72 — the 80 000-row POST the load generator sends)."""

from __future__ import annotations

import json
import random

from pyspark.sql import functions as F

from api_to_parquet_spark import ingest, lake


def test_startup_smoke(spark, tmp_path):
    """1000 rows, constant strings, Value=i → one readable parquet batch
    (the reference's startup self-check, src/main.go:190-209)."""
    env = json.dumps(
        {
            "content": [
                {
                    "Timestamp": i,
                    "PointId": "startup",
                    "Project": "startup",
                    "Value": float(i),
                }
                for i in range(1000)
            ],
            "id": "startup",
            "source": "startup",
            "timeGenerated": 1,
            "file": "startup/2023/01/01/00/startup_test.parquet",
        }
    )
    points, rejected = ingest.ingest_batch(
        ingest.parse_envelopes(spark.createDataFrame([(env,)], ["value"]))
    )
    assert rejected.count() == 0
    lake_path = str(tmp_path / "lake")
    lake.write_lake(points, lake_path)
    back = lake.read_lake(spark, lake_path)
    assert back.count() == 1000
    row = back.agg(
        F.max("Value").alias("mx"), F.countDistinct("PointId").alias("np")
    ).collect()[0]
    assert row["mx"] == 999.0 and row["np"] == 1


def test_load_shape_80k_rows(spark, tmp_path):
    """One 80 000-row envelope (the load generator's POST size) flows
    through parse → validate → explode → normalize → partitioned write
    and reads back intact — sizes the writer path realistically."""
    rng = random.Random(42)
    env = json.dumps(
        {
            "content": [
                {
                    "Timestamp": 1700000000000 + i,
                    "TimeOffsetHours": rng.randint(0, 23),
                    "PointId": f"p{rng.randint(0, 99)}",
                    "Sequence": rng.randint(0, 99),
                    "Project": f"proj{rng.randint(0, 9)}",
                    "Value": rng.uniform(1, 43),
                    "Res": "r",
                    "Quality": rng.randint(0, 99),
                }
                for i in range(80_000)
            ],
            "id": "load-1",
            "source": "factory-1",
            "timeGenerated": 1700000000000,
            "file": "factory-1/2023/10/26/19/load.parquet",
        }
    )
    points, rejected = ingest.ingest_batch(
        ingest.parse_envelopes(spark.createDataFrame([(env,)], ["value"]))
    )
    assert rejected.count() == 0
    lake_path = str(tmp_path / "lake")
    lake.write_lake(points, lake_path)
    back = lake.read_lake(spark, lake_path)
    assert back.count() == 80_000
    assert back.agg(F.max("Timestamp")).collect()[0][0] == 1700000000000 + 79_999
