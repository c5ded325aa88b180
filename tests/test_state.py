"""Control-table state fixtures: monotonic_max + last_write_wins
(FIXTURES.md §4; reference src/main.go:313-322)."""

from __future__ import annotations

import json

from api_to_parquet_spark import ingest, state


def _batch(spark, ts_values, time_generated):
    payload = json.dumps(
        {
            "content": [{"Timestamp": t, "Value": 1.0} for t in ts_values],
            "id": "b",
            "source": "s",
            "timeGenerated": time_generated,
            "file": "s/2023/01/01/00/x.parquet",
        }
    )
    pts, _ = ingest.ingest_batch(spark.createDataFrame([(payload,)], ["value"]))
    return pts


def test_monotonic_max(spark, tmp_path):
    path = str(tmp_path / "state")
    state.update_state(spark, path, _batch(spark, [100], time_generated=1))
    row = state.update_state(spark, path, _batch(spark, [50], time_generated=2))
    assert row["max_timestamp"] == 100  # never decreases
    row = state.update_state(spark, path, _batch(spark, [150], time_generated=3))
    assert row["max_timestamp"] == 150


def test_last_write_wins(spark, tmp_path):
    """lastTimeGenerated tracks arrival order, not value order."""
    path = str(tmp_path / "state")
    state.update_state(spark, path, _batch(spark, [1], time_generated=999))
    row = state.update_state(spark, path, _batch(spark, [2], time_generated=5))
    assert row["last_time_generated"] == 5
    assert state.read_state(spark, path)["last_time_generated"] == 5


def test_empty_state(spark, tmp_path):
    row = state.read_state(spark, str(tmp_path / "nope"))
    assert row["max_timestamp"] is None


def test_intra_batch_envelopes_match_sequential_posts(spark, tmp_path):
    """One batch carrying two envelopes for one key (tg=1 with Timestamp
    500, then tg=2 with Timestamp 99) leaves the state two sequential
    POSTs leave: the batch-wide max Timestamp and the later
    timeGenerated. (The lake half, which keeps only [99], is pinned by
    test_lake.py::test_write_batch_files_intra_batch_last_write_wins.)"""
    import pyarrow as pa

    def env(ts, tg):
        return json.dumps(
            {
                "content": [{"Timestamp": ts, "Value": 1.0}],
                "id": f"b{tg}",
                "source": "s",
                "timeGenerated": tg,
                "file": "s/2023/01/01/00/x.parquet",
            }
        )

    raw = spark.createDataFrame(pa.table({"value": [env(500, 1), env(99, 2)]}))
    points, _ = ingest.ingest_batch(raw)
    path = str(tmp_path / "state")
    row = state.update_state(spark, path, points)
    assert (row["max_timestamp"], row["last_time_generated"]) == (500, 2)

    seq = str(tmp_path / "seq_state")
    state.update_state(spark, seq, _batch(spark, [500], time_generated=1))
    state.update_state(spark, seq, _batch(spark, [99], time_generated=2))
    assert state.read_state(spark, seq) == state.read_state(spark, path)
