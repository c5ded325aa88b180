"""Streaming-mode fixtures (SURVEY.md §2.9): ingest stream with idempotent
lake writes + state merge, streaming running-max aggregation, watermarked
windowed counts."""

from __future__ import annotations

import json
import time

import pytest

from api_to_parquet_spark import lake, snapshots, state, streaming


def _envelope(file, ts_values, time_generated):
    return json.dumps(
        {
            "content": [{"Timestamp": t, "Value": float(t)} for t in ts_values],
            "id": f"b{time_generated}",
            "source": "s",
            "timeGenerated": time_generated,
            "file": file,
        }
    )


def test_ingest_stream_end_to_end(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    lake_path = str(tmp_path / "lake")
    state_path = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    (inp / "batch1.json").write_text(
        _envelope("s/2024/01/01/00/a.parquet", [100, 200], 1) + "\n"
    )
    q = streaming.start_ingest_stream(
        spark, str(inp), lake_path, state_path, ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert lake.read_lake(spark, lake_path).count() == 2
    st = state.read_state(spark, state_path)
    assert st["max_timestamp"] == 200

    # second micro-batch: out-of-order max (monotonic) + new partition
    (inp / "batch2.json").write_text(
        _envelope("s/2024/01/01/01/b.parquet", [50], 2) + "\n"
    )
    q = streaming.start_ingest_stream(
        spark, str(inp), lake_path, state_path, ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert lake.read_lake(spark, lake_path).count() == 3
    st = state.read_state(spark, state_path)
    assert st["max_timestamp"] == 200  # never decreases
    assert st["last_time_generated"] == 2  # arrival order


def _start_lake_stream(spark, inp, out, st, ckpt):
    q = streaming.start_ingest_stream(spark, inp, out, st, ckpt, available_now=True)
    return q, lambda: lake.read_lake(spark, out)


def _start_snapshot_stream(spark, inp, out, st, ckpt):
    q = streaming.start_snapshot_ingest_stream(
        spark, inp, out, st, ckpt, available_now=True
    )
    return q, lambda: snapshots.read_snapshot(spark, out)


@pytest.mark.parametrize(
    "start", [_start_lake_stream, _start_snapshot_stream], ids=["lake", "snapshot"]
)
def test_ingest_streams_intra_batch_last_write_wins(spark, tmp_path, start):
    """One micro-batch carrying two envelopes for the same `file` key
    leaves only the later (max timeGenerated) envelope's rows on every
    ingest sink — the reference applies them as sequential POSTs, so
    the result is the last one, never the union. The state merge still
    sees both envelopes, as two POSTs would update it."""
    inp = tmp_path / "in"
    inp.mkdir()
    key = "s/2024/01/01/02/c.parquet"
    (inp / "b1.json").write_text(
        _envelope(key, [10, 20, 30], 3) + "\n" + _envelope(key, [5], 4) + "\n"
    )
    st = str(tmp_path / "state")
    q, read = start(
        spark, str(inp), str(tmp_path / "out"), st, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert [r["Timestamp"] for r in read().collect()] == [5]
    got = state.read_state(spark, st)
    assert got["max_timestamp"] == 30 and got["last_time_generated"] == 4


@pytest.mark.parametrize(
    "start", [_start_lake_stream, _start_snapshot_stream], ids=["lake", "snapshot"]
)
def test_ingest_streams_reject_mistyped_envelope(spark, tmp_path, start):
    """A micro-batch holding a good envelope and ones with `"Value": "2"`,
    `NaN` or `Infinity` lands only the good key: from_json flags each
    mistyped document corrupt, and validation rejects it, as POST /
    answers it 400 (they used to land as Value 0.0, NaN and Infinity)."""
    inp = tmp_path / "in"
    inp.mkdir()
    good = "s/2024/01/01/03/good.parquet"
    docs = [_envelope(good, [11], 5)]
    for i, value in enumerate(["2", float("nan"), float("inf")]):
        bad = json.loads(_envelope(f"s/2024/01/01/03/bad{i}.parquet", [7], 6))
        bad["content"][0]["Value"] = value
        docs.append(json.dumps(bad))  # NaN and Infinity as bare tokens
    (inp / "b1.json").write_text("\n".join(docs) + "\n")
    st = str(tmp_path / "state")
    q, read = start(
        spark, str(inp), str(tmp_path / "out"), st, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert [(r["file"], r["Timestamp"]) for r in read().collect()] == [(good, 11)]
    got = state.read_state(spark, st)
    assert got["max_timestamp"] == 11 and got["last_time_generated"] == 5


def test_state_stream_running_max(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "b1.json").write_text(
        _envelope("s/2024/01/01/00/a.parquet", [500], 10)
        + "\n"
        + _envelope("s/2024/01/01/00/b.parquet", [300], 20)
        + "\n"
    )
    q = streaming.start_state_stream(spark, str(inp), query_name="st_test")
    q.awaitTermination(120)
    row = spark.sql("SELECT * FROM st_test").collect()[0]
    assert row["max_timestamp"] == 500
    assert row["last_time_generated_by_value"] == 20


def _envelope_points(file, points, time_generated):
    return json.dumps(
        {
            "content": [
                {"Timestamp": t, "PointId": pid, "Value": float(t)}
                for pid, t in points
            ],
            "id": f"b{time_generated}",
            "source": "s",
            "timeGenerated": time_generated,
            "file": file,
        }
    )


def test_per_key_state_stream(spark, tmp_path):
    """applyInPandasWithState: per-PointId running max + count must
    accumulate ACROSS micro-batches (maxFilesPerTrigger=1 forces two
    triggers in one run), monotonic under out-of-order timestamps.
    Update-mode output re-emits a key each trigger it changes, so the
    final state per key is the row with the largest (monotonic)
    n_points."""
    import time

    inp = tmp_path / "in"
    inp.mkdir()
    ckpt = str(tmp_path / "ckpt")
    (inp / "b1.json").write_text(
        _envelope_points(
            "s/2024/01/01/00/a.parquet", [("p1", 100), ("p1", 300), ("p2", 50)], 1
        )
        + "\n"
    )
    time.sleep(1.1)  # file-source ordering is by modification time
    # batch 2: out-of-order for p1 (max must not regress), new point for p2
    (inp / "b2.json").write_text(
        _envelope_points(
            "s/2024/01/01/01/b.parquet", [("p1", 200), ("p2", 500)], 2
        )
        + "\n"
    )
    q = streaming.start_per_key_state_stream(
        spark, str(inp), ckpt, query_name="pk_test", max_files_per_trigger=1
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2  # really ran as two micro-batches
    got = {
        r["point_id"]: r
        for r in spark.sql(
            "SELECT point_id, max(max_timestamp) AS max_timestamp,"
            " max(n_points) AS n_points FROM pk_test GROUP BY point_id"
        ).collect()
    }
    assert got["p1"]["max_timestamp"] == 300 and got["p1"]["n_points"] == 3
    assert got["p2"]["max_timestamp"] == 500 and got["p2"]["n_points"] == 2


def test_per_key_state_stream_on_rocksdb(spark, tmp_path):
    """Same per-key stateful operator on the RocksDB state store provider
    — the provider a 100 TB deployment runs (bounded executor memory,
    changelog checkpointing). SQL confs are session-scoped, so a cloned
    session flips the provider without touching other tests."""
    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "b1.json").write_text(
        _envelope_points(
            "s/2024/01/01/00/a.parquet", [("p1", 7), ("p1", 9), ("p2", 3)], 1
        )
        + "\n"
    )
    q = streaming.start_per_key_state_stream(
        s2, str(inp), str(tmp_path / "ckpt"), query_name="pk_rocks"
    )
    q.awaitTermination(120)
    got = {
        r["point_id"]: r for r in s2.sql("SELECT * FROM pk_rocks").collect()
    }
    assert got["p1"]["max_timestamp"] == 9 and got["p1"]["n_points"] == 2
    assert got["p2"]["max_timestamp"] == 3 and got["p2"]["n_points"] == 1


def test_stream_stream_join_matches_batch(spark, tmp_path, sf_smoke):
    """The watermarked stream-stream purchase←view attribution join must
    produce exactly the rows the equivalent batch join produces (inner
    join emits on match; the watermark only bounds state retention)."""
    from pyspark.sql import functions as F

    events_dir = tmp_path / "events"
    ckpt = str(tmp_path / "ckpt")
    lake.load(spark, sf_smoke, "events").coalesce(1).write.parquet(str(events_dir))
    q = streaming.start_stream_stream_join(
        spark, str(events_dir), ckpt, query_name="ssj_test"
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM ssj_test").collect()[0]["n"]

    ev = lake.load(spark, sf_smoke, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    want = purchases.join(
        views,
        F.expr(
            "user_id = v_user_id AND view_ts <= purchase_ts"
            " AND view_ts >= purchase_ts - INTERVAL 1 HOUR"
        ),
    ).count()
    assert want > 0
    assert got == want


def test_dedup_stream_drops_replayed_batch_ids(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a re-POSTed envelope (same batch
    id) within the watermark horizon contributes no duplicate points."""
    inp = tmp_path / "in"
    inp.mkdir()
    ckpt = str(tmp_path / "ckpt")
    e1 = _envelope("s/2024/01/01/00/a.parquet", [100, 200], 1000)
    e2 = _envelope("s/2024/01/01/00/b.parquet", [300], 2000)
    # e1 appears twice (replay); e2 once
    (inp / "b1.json").write_text(e1 + "\n" + e1 + "\n" + e2 + "\n")
    q = streaming.start_dedup_stream(spark, str(inp), ckpt, query_name="dd_test")
    q.awaitTermination(120)
    row = spark.sql("SELECT * FROM dd_test").collect()[0]
    assert row["n_points"] == 3  # 2 from e1 (once) + 1 from e2
    assert row["n_batches"] == 2


def test_windowed_stream_with_watermark(spark, tmp_path, sf_smoke):
    events_dir = tmp_path / "events"
    ckpt = str(tmp_path / "ckpt")
    # feed the deterministic events table through the stream
    lake.load(spark, sf_smoke, "events").coalesce(1).write.parquet(str(events_dir))
    q = streaming.start_windowed_stream(
        spark, str(events_dir), ckpt, query_name="win_test"
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n) AS total FROM win_test").collect()[0]
    # append mode emits only watermark-closed windows; all but the last
    # open window(s) of the 30-day span must be present
    expected = lake.load(spark, sf_smoke, "events").count()
    assert got["total"] is not None
    assert got["total"] >= expected * 0.9


def test_transform_with_state_stream(spark, tmp_path):
    """transformWithStateInPandas twin of the per-key operator: typed
    ValueState accumulates across two micro-batches on RocksDB, monotonic
    under out-of-order timestamps, matching applyInPandasWithState
    semantics exactly. Where google.protobuf (the API's state-protocol
    dependency) is absent — this container forbids installs — the
    documented LOUD contract is asserted and the test then SKIPS
    (round-14: a green pass here would misreport the real
    transformWithStateInPandas path as covered; the skip keeps the
    dependency-absent environment distinguishable in reports, per
    round-13 advice). applyInPandasWithState is the dependency-free
    twin asserted above either way."""
    import time

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        import pytest

        with pytest.raises(NotImplementedError, match="protobuf"):
            streaming.start_transform_with_state_stream(
                spark, str(tmp_path), str(tmp_path / "ckpt")
            )
        # The loud contract held — but a PASS here would report the
        # real transformWithStateInPandas path as covered in an
        # environment that cannot run it (round-13 advice item 3).
        # Skip keeps the dependency-absent signal visible in reports.
        pytest.skip(
            "google.protobuf absent: loud-ImportError contract"
            " asserted; real transformWithStateInPandas path not"
            " exercised in this environment"
        )

    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "b1.json").write_text(
        _envelope_points(
            "s/2024/01/01/00/a.parquet",
            [("p1", 100), ("p1", 300), ("p2", 50)],
            1,
        )
        + "\n"
    )
    time.sleep(1.1)
    (inp / "b2.json").write_text(
        _envelope_points(
            "s/2024/01/01/01/b.parquet", [("p1", 200), ("p2", 500)], 2
        )
        + "\n"
    )
    q = streaming.start_transform_with_state_stream(
        spark, str(inp), str(tmp_path / "ckpt"), query_name="tws_test",
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2
    got = {
        r["point_id"]: r
        for r in spark.sql(
            "SELECT point_id, max(max_timestamp) AS max_timestamp,"
            " max(n_points) AS n_points FROM tws_test GROUP BY point_id"
        ).collect()
    }
    assert got["p1"]["max_timestamp"] == 300 and got["p1"]["n_points"] == 3
    assert got["p2"]["max_timestamp"] == 500 and got["p2"]["n_points"] == 2


def test_crash_recovery_exactly_once(spark, tmp_path, monkeypatch):
    """ST3 crash-recovery contract (reference README.md:88 replay
    semantics): a query that dies MID-BATCH — after the lake write,
    before the state merge — must, on restart from the same checkpoint,
    REPLAY the uncommitted batch and converge to exactly-once results:
    no duplicate lake rows (per-`file`-key overwrite) and a state row
    reflecting the batch exactly once."""
    inp = tmp_path / "in"
    inp.mkdir()
    lake_path = str(tmp_path / "lake")
    state_path = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    (inp / "batch1.json").write_text(
        _envelope("s/2024/01/01/00/a.parquet", [100, 200, 300], 1) + "\n"
    )

    real_update = state.update_state

    def crash_once(*args, **kwargs):
        monkeypatch.setattr(state, "update_state", real_update)
        raise RuntimeError("injected crash between lake write and state merge")

    monkeypatch.setattr(state, "update_state", crash_once)
    q = streaming.start_ingest_stream(
        spark, str(inp), lake_path, state_path, ckpt, available_now=True
    )
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # the injected crash kills the query
    assert not q.isActive
    # crash landed where intended: lake written, state missing
    assert lake.read_lake(spark, lake_path).count() == 3
    st = state.read_state(spark, state_path)
    assert st is None or st["max_timestamp"] is None

    # restart from the SAME checkpoint: batch 0 was never committed, so
    # it replays; the lake overwrite is idempotent (same file key) and
    # the state merge now lands — exactly once.
    q = streaming.start_ingest_stream(
        spark, str(inp), lake_path, state_path, ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert lake.read_lake(spark, lake_path).count() == 3  # no duplicates
    st = state.read_state(spark, state_path)
    assert st["max_timestamp"] == 300
    assert st["last_time_generated"] == 1

    # the stream keeps going: a later batch processes normally on the
    # recovered checkpoint
    (inp / "batch2.json").write_text(
        _envelope("s/2024/01/01/01/b.parquet", [50], 2) + "\n"
    )
    q = streaming.start_ingest_stream(
        spark, str(inp), lake_path, state_path, ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert lake.read_lake(spark, lake_path).count() == 4
    st = state.read_state(spark, state_path)
    assert st["max_timestamp"] == 300  # monotonic
    assert st["last_time_generated"] == 2


def test_kql_stream_matches_batch(spark, tmp_path, sf_smoke):
    """The KQL frontend runs over STREAMING views: a stateless pipe and
    a bin()-grouped summarize both produce exactly the batch answer
    once the availableNow stream drains."""
    events_dir = tmp_path / "kqlstream_events"
    lake.load(spark, sf_smoke, "events").coalesce(1).write.parquet(
        str(events_dir)
    )
    schema = (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type STRING, value DOUBLE, props STRING"
    )
    stream = spark.readStream.schema(schema).parquet(str(events_dir))
    stream.createOrReplaceTempView("events_stream")

    # stateless pipe -> append mode
    df = streaming.kql_stream(
        spark,
        'events_stream | where event_type == "purchase"'
        " | extend cents = tolong(round(value * 100))"
        " | project event_id, cents",
    )
    assert df.isStreaming
    q = (
        df.writeStream.format("memory").queryName("kql_stateless")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    lake.load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    from api_to_parquet_spark.queries.kql import kql

    batch = kql(
        spark,
        'events | where event_type == "purchase"'
        " | extend cents = tolong(round(value * 100))"
        " | project event_id, cents",
    )
    assert sorted(
        map(tuple, spark.table("kql_stateless").collect())
    ) == sorted(map(tuple, batch.collect()))

    # bin()-grouped summarize -> streaming aggregation, complete mode
    agg = streaming.kql_stream(
        spark,
        "events_stream | summarize n = count(),"
        " cents = sum(round(value * 100))"
        " by day = bin(ts, 1d), event_type",
    )
    assert agg.isStreaming
    q2 = (
        agg.writeStream.format("memory").queryName("kql_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    batch_agg = kql(
        spark,
        "events | summarize n = count(), cents = sum(round(value * 100))"
        " by day = bin(ts, 1d), event_type",
    )
    assert sorted(
        map(tuple, spark.table("kql_agg").collect())
    ) == sorted(map(tuple, batch_agg.collect()))

    # batch-only shapes fail loudly at stream START (Spark's
    # UnsupportedOperationChecker), before any data is processed
    import pytest
    from pyspark.errors import AnalysisException

    sorted_stream = streaming.kql_stream(
        spark, "events_stream | sort by ts asc"
    )
    with pytest.raises(AnalysisException):
        (
            sorted_stream.writeStream.format("memory")
            .queryName("kql_sorted")
            .option("checkpointLocation", str(tmp_path / "ck3"))
            .trigger(availableNow=True)
            .start()
        )
