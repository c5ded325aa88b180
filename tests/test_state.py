"""State document fixtures: monotonic_max + last_write_wins
(FIXTURES.md §4; reference src/main.go:313-322)."""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import Row

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
    raw = spark.createDataFrame([(payload,)], ["value"])
    return ingest.batch_keys(ingest.parse_envelopes(raw))


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
    # an empty directory too: a first commit creates it before its version
    assert state.read_state(spark, str(tmp_path))["max_timestamp"] is None


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
    keys = ingest.batch_keys(ingest.parse_envelopes(raw))
    path = str(tmp_path / "state")
    row = state.update_state(spark, path, keys)
    assert (row["max_timestamp"], row["last_time_generated"]) == (500, 2)

    seq = str(tmp_path / "seq_state")
    state.update_state(spark, seq, _batch(spark, [500], time_generated=1))
    state.update_state(spark, seq, _batch(spark, [99], time_generated=2))
    assert state.read_state(spark, seq) == state.read_state(spark, path)


def test_batch_keys_zero_fill_absent_timestamps(spark):
    """An envelope's max_timestamp counts an absent Timestamp as 0, as
    normalize_points fills it; rejected envelopes give no row."""
    docs = [
        json.dumps(
            {
                "content": [{"Value": 1.0}, {"Timestamp": -3}],
                "id": "b",
                "source": "s",
                "timeGenerated": 4,
                "file": "s/2023/01/01/00/x.parquet",
            }
        ),
        json.dumps({"content": [], "id": "c", "timeGenerated": 5, "file": "k"}),
    ]
    raw = spark.createDataFrame([(d,) for d in docs], ["value"])
    keys = ingest.batch_keys(ingest.parse_envelopes(raw))
    assert [tuple(k) for k in keys] == [("s/2023/01/01/00/x.parquet", 4, 0)]


def test_concurrent_reads_are_never_torn(spark, tmp_path):
    """A reader racing update_state, from before the first commit on,
    reads the empty state until then and a whole version after it: the
    old Parquet control table was deleted before it was rewritten, so a
    concurrent read found no state or raised."""
    path = str(tmp_path / "state")

    def update(i):
        keys = [Row(file="k", time_generated=i, max_timestamp=i)]
        return state.update_state(spark, path, keys)

    seen, errors = [], []
    done = threading.Event()

    def reader():
        while not done.is_set():
            try:
                seen.append(state.read_state(spark, path)["max_timestamp"])
            except Exception as e:  # noqa: BLE001 — any raise is a torn read
                errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(25):
            assert update(i)["max_timestamp"] == i
    finally:
        done.set()
        t.join()
    assert errors == []
    committed = seen[seen.count(None):]
    assert committed and None not in committed
    assert committed == sorted(committed)
    assert state.read_state(spark, path)["max_timestamp"] == 24


def test_state_path_without_a_version_raises(spark, tmp_path):
    """A state_path holding files but no version, such as an old Parquet
    control table, raises instead of reading as empty state, so an
    upgrade cannot reset the monotonic max."""
    path = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, 5)], "last_time_generated BIGINT, max_timestamp BIGINT"
    ).write.parquet(path)
    keys = [Row(file="k", time_generated=2, max_timestamp=1)]
    with pytest.raises(FileNotFoundError):
        state.read_state(spark, path)
    with pytest.raises(FileNotFoundError):
        state.update_state(spark, path, keys)


def test_corrupt_state_file_is_a_500_not_a_reset(spark, tmp_path):
    """A state file that cannot be read fails POST / and GET / with a 500
    and is left as it was: it used to read as empty state, so the next
    POST reset the monotonic max to its own Timestamp. The refused POST
    leaves the lake as it was too."""
    import glob
    import urllib.error
    import urllib.request

    from api_to_parquet_spark import lake, service

    svc = service.LakeService(spark, str(tmp_path / "lake"), str(tmp_path / "state"))
    httpd = service.make_server(svc)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}/"

    def call(body=None):
        data = None if body is None else json.dumps(body).encode()
        try:
            with urllib.request.urlopen(urllib.request.Request(base, data)) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    def envelope(ts, tg):
        return {
            "content": [{"Timestamp": ts, "Value": 1.0}],
            "id": "b",
            "source": "s",
            "timeGenerated": tg,
            "file": "s/2023/01/01/00/x.parquet",
        }

    try:
        assert call(envelope(5, 1)) == (
            200,
            {"id": "b", "timeGenerated": 1, "maxTimestamp": 5},
        )
        (part,) = glob.glob(str(tmp_path / "state" / "_manifests" / "v*.json"))
        with open(part, "wb") as f:
            f.write(b"not a state document")
        status, reply = call(envelope(1, 2))
        assert status == 500 and reply["error"]
        assert call()[0] == 500
        with open(part, "rb") as f:
            assert f.read() == b"not a state document"
        rows = lake.read_batch_tree(spark, svc.lake_root).collect()
        assert [r["Timestamp"] for r in rows] == [5]
    finally:
        httpd.shutdown()
