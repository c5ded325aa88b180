"""Lake writer/reader fixtures: partitioned layout, partition pruning,
per-file overwrite replay (FIXTURES.md §4 replay_same_file)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from api_to_parquet_spark import ingest, lake


def _payload(file, values, time_generated):
    return json.dumps(
        {
            "content": [{"Timestamp": 1000 + i, "Value": float(v)} for i, v in enumerate(values)],
            "id": "b",
            "source": "s",
            "timeGenerated": time_generated,
            "file": file,
        }
    )


def _points(spark, file, values, time_generated=1000):
    raw = spark.createDataFrame([(_payload(file, values, time_generated),)], ["value"])
    pts, _ = ingest.ingest_batch(ingest.parse_envelopes(raw))
    return pts


def test_partitioned_roundtrip_and_pruning(spark, tmp_path):
    lake_path = str(tmp_path / "lake")
    pts = _points(spark, "factory-1/2023/10/26/19/a.parquet", [1, 2, 3])
    lake.write_lake(pts, lake_path)
    pts2 = _points(spark, "factory-2/2023/10/26/20/b.parquet", [4])
    lake.write_lake(pts2, lake_path, mode="append")

    back = lake.read_partition(spark, lake_path, "factory-1", 2023, 10, 26, 19)
    assert back.count() == 3
    # partition pruning: physical plan must carry partition filters
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    allrows = lake.read_lake(spark, lake_path)
    assert allrows.count() == 4


def test_dynamic_partition_overwrite_replay(spark, tmp_path):
    """Re-ingesting a batch for the same `file` key replaces only that
    batch (idempotent replay), leaving others untouched."""
    lake_path = str(tmp_path / "lake")
    lake.write_lake(_points(spark, "f1/2023/10/26/19/a.parquet", [1, 2]), lake_path)
    lake.write_lake(
        _points(spark, "f2/2023/10/26/19/z.parquet", [9]), lake_path, mode="append"
    )
    # replay file key f1/.../a.parquet with different content
    lake.write_lake(_points(spark, "f1/2023/10/26/19/a.parquet", [5]), lake_path)
    back = lake.read_lake(spark, lake_path)
    assert back.filter(F.col("source") == "f1").count() == 1
    assert back.filter(F.col("source") == "f2").count() == 1


def test_distinct_file_keys_coexist_in_same_partition(spark, tmp_path):
    """Two POSTs into the same hour but different `file` keys must BOTH
    survive an overwrite-mode write (reference: one blob per POST;
    overwrite is per `file` key, not per hour)."""
    lake_path = str(tmp_path / "lake")
    lake.write_lake(_points(spark, "f1/2023/10/26/19/a.parquet", [1, 2]), lake_path)
    lake.write_lake(_points(spark, "f1/2023/10/26/19/b.parquet", [3]), lake_path)
    back = lake.read_lake(spark, lake_path).filter(
        (F.col("source") == "f1") & (F.col("hour") == 19)
    )
    assert back.count() == 3


def _batch(spark, file, values):
    """(points, keys) of one envelope, as write_batch_files takes them."""
    raw = spark.createDataFrame([(_payload(file, values, 1000),)], ["value"])
    env = ingest.parse_envelopes(raw)
    return ingest.ingest_batch(env)[0], ingest.batch_keys(env)


def test_per_file_overwrite_parity(spark, tmp_path):
    """FIXTURES.md replay_same_file: same `file` key ⇒ second batch fully
    replaces the first, no duplicate rows (reference README.md:88)."""
    root = str(tmp_path / "files")
    key = "factory-1/2023/10/26/19/a.parquet"
    assert lake.write_batch_files(*_batch(spark, key, [1, 2, 3]), root) == [key]
    lake.write_batch_files(*_batch(spark, key, [7]), root)
    back = spark.read.parquet(f"{root}/{key}")
    vals = [r["Value"] for r in back.collect()]
    assert vals == [7.0]


def test_write_batch_files_intra_batch_last_write_wins(spark, tmp_path):
    """Two envelopes for the same file key inside ONE micro-batch: the
    lake keeps only the later (max timeGenerated) envelope's rows — the
    reference applies them as sequential POSTs, never a union."""
    import json

    key = "s/2023/10/26/19/a.parquet"

    def env(ts_values, tg):
        return (
            json.dumps(
                {
                    "content": [
                        {"Timestamp": t, "Value": float(t)}
                        for t in ts_values
                    ],
                    "id": f"b{tg}",
                    "source": "s",
                    "timeGenerated": tg,
                    "file": key,
                }
            ),
        )

    raw = spark.createDataFrame([env([1, 2], 1), env([99], 2)], ["value"])
    envelopes = ingest.parse_envelopes(raw)
    points, _ = ingest.ingest_batch(envelopes)
    keys = ingest.batch_keys(envelopes)
    assert lake.write_batch_files(points, keys, str(tmp_path / "lake")) == [key]
    rows = spark.read.parquet(str(tmp_path / "lake" / key)).collect()
    assert [r["Timestamp"] for r in rows] == [99]
