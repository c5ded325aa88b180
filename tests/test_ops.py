"""Scale operations: compaction, bucketed shuffle-free joins, salting."""

from __future__ import annotations

import glob

import pytest

from pyspark.sql import functions as F

from api_to_parquet_spark import ingest, lake, ops


def _points(spark, file, ts_values):
    import json

    raw = spark.createDataFrame(
        [
            (
                json.dumps(
                    {
                        "content": [
                            {"Timestamp": t, "Value": float(t)} for t in ts_values
                        ],
                        "id": "b1",
                        "source": "s",
                        "timeGenerated": 1,
                        "file": file,
                    }
                ),
            )
        ],
        ["value"],
    )
    points, _ = ingest.ingest_batch(ingest.parse_envelopes(raw))
    return points


def test_compact_partition_merges_files_preserving_replay_keys(spark, tmp_path):
    """A fragmented hour (many small files per batch) compacts to one
    file per file_key, preserving rows exactly and keeping the per-POST
    replay boundary intact."""
    lake_path = str(tmp_path / "lake")
    for name in ["a", "b"]:
        pts = _points(spark, f"f1/2023/10/26/19/{name}.parquet", list(range(12)))
        lake.write_lake(pts.repartition(6), lake_path, mode="append")
    before = lake.read_partition(spark, lake_path, "f1", 2023, 10, 26, 19)
    rows_before = sorted(
        (r["file_key"], r["Timestamp"]) for r in before.collect()
    )
    files_before = glob.glob(
        f"{lake_path}/source=f1/**/*.parquet", recursive=True
    )
    assert len(files_before) >= 12  # fragmented: ~6 files per POST

    n_tasks = ops.compact_partition(spark, lake_path, "f1", 2023, 10, 26, 19)
    assert n_tasks == 1  # tiny partition → single write task

    after = lake.read_partition(spark, lake_path, "f1", 2023, 10, 26, 19)
    assert (
        sorted((r["file_key"], r["Timestamp"]) for r in after.collect())
        == rows_before
    )
    files_after = glob.glob(
        f"{lake_path}/source=f1/**/*.parquet", recursive=True
    )
    assert len(files_after) == 2  # one per file_key (per POST)

    # the replay contract survives compaction: re-POST key "a" replaces it
    lake.write_lake(
        _points(spark, "f1/2023/10/26/19/a.parquet", [99]), lake_path
    )
    replayed = lake.read_partition(spark, lake_path, "f1", 2023, 10, 26, 19)
    got = sorted(r["Timestamp"] for r in replayed.collect())
    assert got == sorted([99, *range(12)])


def test_bucketed_join_has_no_shuffle(spark, sf_smoke, tmp_path):
    """Two tables bucketed on the join key join without any Exchange in
    the plan — the 100 TB fact-fact join shape."""
    orders = lake.load(spark, sf_smoke, "orders")
    li = lake.load(spark, sf_smoke, "lineitem")
    ops.write_bucketed(
        orders, "b_orders", ["o_orderkey"], 8, str(tmp_path / "b_orders")
    )
    ops.write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        8,
        str(tmp_path / "b_lineitem"),
    )
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"), "o_orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_agg_matches_plain(spark, sf_smoke):
    ev = lake.load(spark, sf_smoke, "events")
    salted = ops.salted_agg(
        ev, ["event_type"], {"value": "sum", "event_id": "count"}
    ).withColumn("sum_value", F.round("sum_value", 2))
    plain = ev.groupBy("event_type").agg(
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.count("event_id").alias("count_event_id"),
    )
    got = {r["event_type"]: r for r in salted.collect()}
    want = {r["event_type"]: r for r in plain.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k]["count_event_id"] == want[k]["count_event_id"]
        assert abs(got[k]["sum_value"] - want[k]["sum_value"]) < 0.05


def test_salted_join_matches_plain(spark, sf_smoke):
    li = lake.load(spark, sf_smoke, "lineitem")
    part = lake.load(spark, sf_smoke, "part")
    salted = ops.salted_join(
        li.withColumnRenamed("l_partkey", "p_partkey"),
        part,
        ["p_partkey"],
        n_salts=8,
    )
    plain = li.join(part, li.l_partkey == part.p_partkey)
    assert salted.count() == plain.count()


def test_zorder_write_clusters_all_columns(spark, sf_smoke, tmp_path):
    """Z-ordered files carry tight min/max stats on EVERY clustered
    column (multi-predicate skipping), where a single-column sort leaves
    the second column's per-file span at ~100% of the global range; row
    set is preserved exactly."""
    import pyarrow.parquet as pq

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    cols = ["l_partkey", "l_suppkey"]
    bounds = {
        c: li.agg(F.min(c), F.max(c)).first() for c in cols
    }

    def avg_span(path):
        spans = {c: [] for c in cols}
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for i in range(row.num_columns):
                    col = row.column(i)
                    if col.path_in_schema in cols and col.statistics:
                        lo, hi = bounds[col.path_in_schema]
                        spans[col.path_in_schema].append(
                            (col.statistics.max - col.statistics.min)
                            / (hi - lo)
                        )
        return {c: sum(v) / len(v) for c, v in spans.items()}

    z_path, s_path = str(tmp_path / "z"), str(tmp_path / "s")
    ops.zorder_write(li, z_path, cols, bits=8, n_files=16)
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(s_path)
    )
    z, s = avg_span(z_path), avg_span(s_path)
    assert z["l_partkey"] < 0.6 and z["l_suppkey"] < 0.6, z
    assert s["l_suppkey"] > 0.9, s  # the gap z-ordering closes
    assert (
        spark.read.parquet(z_path).orderBy("l_orderkey", "l_partkey", "l_suppkey").collect()
        == li.orderBy("l_orderkey", "l_partkey", "l_suppkey").collect()
    )


def test_delete_rows_rewrites_only_affected_partitions(spark, tmp_path):
    """GDPR-style erasure: matching rows disappear, other rows in the
    same partition survive, untouched partitions keep their original
    FILES (mtime-identical — never rewritten), and a partition whose
    every row matched is removed entirely."""
    import os

    lake_path = str(tmp_path / "lake")
    p1 = _points(spark, "f1/2023/10/26/19/a.parquet", [1, 2, 3])
    p2 = _points(spark, "f1/2023/10/26/20/b.parquet", [10, 11])
    p3 = _points(spark, "f2/2023/10/26/19/c.parquet", [100])
    for p in (p1, p2, p3):
        lake.write_lake(p, lake_path, mode="append")

    untouched = str(tmp_path / "lake/source=f1/year=2023/month=10/day=26/hour=20")
    before = {f: os.path.getmtime(f"{untouched}/{f}") for f in os.listdir(untouched)}

    # delete ts in {1, 2} (partial partition) and ts=100 (whole partition)
    n = ops.delete_rows(
        spark, lake_path, F.col("Timestamp").isin(1, 2, 100)
    )
    assert n == 3
    left = spark.read.parquet(lake_path)
    assert sorted(r["Timestamp"] for r in left.collect()) == [3, 10, 11]
    # f2's hour-19 partition is gone from the directory tree
    assert not os.path.exists(str(tmp_path / "lake/source=f2"))
    # the untouched partition's files were not rewritten
    after = {f: os.path.getmtime(f"{untouched}/{f}") for f in os.listdir(untouched)}
    assert before == after

    # no-match delete is a no-op returning 0
    assert ops.delete_rows(spark, lake_path, F.col("Timestamp") == 999) == 0


def test_partition_stats_reports_fragmentation(spark, tmp_path):
    lake_path = str(tmp_path / "lake")
    pts = _points(spark, "f1/2023/10/26/19/a.parquet", list(range(12)))
    lake.write_lake(pts.repartition(6), lake_path, mode="append")
    stats = {
        (r["source"], r["hour"]): r
        for r in ops.partition_stats(spark, lake_path).collect()
    }
    row = stats[("f1", 19)]
    assert row["n_rows"] == 12 and row["n_files"] >= 2 and row["n_bytes"] > 0


def test_upsert_rows_merges_by_key(spark, tmp_path):
    """MERGE semantics: same-key rows are replaced, new keys insert,
    rows in untouched partitions and non-matching rows survive."""
    import os

    lake_path = str(tmp_path / "lake")
    lake.write_lake(
        _points(spark, "f1/2023/10/26/19/a.parquet", [1, 2, 3]),
        lake_path,
        mode="append",
    )
    lake.write_lake(
        _points(spark, "f1/2023/10/26/20/b.parquet", [10]),
        lake_path,
        mode="append",
    )
    untouched = str(
        tmp_path / "lake/source=f1/year=2023/month=10/day=26/hour=20"
    )
    before = {
        f: os.path.getmtime(f"{untouched}/{f}") for f in os.listdir(untouched)
    }

    # update ts=2's value and insert ts=50, both into hour 19
    upd = _points(spark, "f1/2023/10/26/19/a.parquet", [2, 50])
    upd = upd.withColumn("Value", F.col("Value") + 1000)
    ops.upsert_rows(
        spark, lake_path, upd, key_cols=["PointId", "Timestamp"]
    )

    got = {
        r["Timestamp"]: r["Value"]
        for r in spark.read.parquet(lake_path).collect()
    }
    assert got[2] == 1002.0 and got[50] == 1050.0  # replaced + inserted
    assert got[1] == 1.0 and got[3] == 3.0 and got[10] == 10.0  # untouched
    after = {
        f: os.path.getmtime(f"{untouched}/{f}") for f in os.listdir(untouched)
    }
    assert before == after  # hour-20 partition never rewritten


def test_scd2_apply_tracks_history(spark):
    """SCD2: a changed attribute closes the current row and opens a new
    version; unchanged updates are no-ops; new keys insert; history
    survives untouched."""
    import datetime

    t = lambda d: datetime.datetime(2024, 1, d)  # noqa: E731
    current = spark.createDataFrame(
        [
            ("p1", "low", t(1), t(5)),   # old closed version
            ("p1", "mid", t(5), None),   # current
            ("p2", "hi", t(2), None),    # current, will be unchanged
        ],
        "point_id STRING, tier STRING, valid_from TIMESTAMP,"
        " valid_to TIMESTAMP",
    )
    updates = spark.createDataFrame(
        [
            ("p1", "hi", t(9)),   # change -> close + new version
            ("p2", "hi", t(9)),   # unchanged -> no-op
            ("p3", "new", t(9)),  # brand-new key
        ],
        "point_id STRING, tier STRING, effective_ts TIMESTAMP",
    )
    out = ops.scd2_apply(
        current, updates, key_cols=["point_id"], attr_cols=["tier"]
    )
    rows = {
        (r["point_id"], r["valid_from"]): r for r in out.collect()
    }
    assert len(rows) == 5
    assert rows[("p1", t(5))]["valid_to"] == t(9)       # closed
    assert rows[("p1", t(9))]["tier"] == "hi"           # new current
    assert rows[("p1", t(9))]["valid_to"] is None
    assert rows[("p2", t(2))]["valid_to"] is None       # untouched no-op
    assert rows[("p3", t(9))]["tier"] == "new"          # inserted
    assert rows[("p1", t(1))]["valid_to"] == t(5)       # history intact


def test_diff_snapshots_classifies_changes(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id LONG, name STRING, v DOUBLE",
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 99.0), (4, "d", 40.0)],
        "id LONG, name STRING, v DOUBLE",
    )
    got = {
        r["id"]: r for r in ops.diff_snapshots(old, new, ["id"]).collect()
    }
    assert set(got) == {1, 3, 4}  # id=2 unchanged -> absent
    assert got[1]["change_type"] == "deleted" and got[1]["new_row"] is None
    assert got[3]["change_type"] == "updated"
    assert got[3]["old_row"]["v"] == 30.0 and got[3]["new_row"]["v"] == 99.0
    assert got[4]["change_type"] == "inserted" and got[4]["old_row"] is None


def test_compaction_aborts_on_concurrent_replay(spark, tmp_path, monkeypatch):
    """A re-POST of a `file` key landing DURING compaction must never be
    clobbered by the stale staged copy: the optimistic listing check
    aborts the commit (ConcurrentModificationError), the replayed data
    survives, and a retry compacts cleanly."""
    lake_path = str(tmp_path / "lake")
    for name in ["a", "b"]:
        pts = _points(spark, f"f1/2023/10/26/19/{name}.parquet", list(range(6)))
        lake.write_lake(pts.repartition(3), lake_path, mode="append")

    real_fp = ops._listing_fingerprint
    calls = {"n": 0}

    def fp_with_interleaved_replay(spark_, path):
        calls["n"] += 1
        if calls["n"] == 2:  # the pre-commit recheck: replay lands first
            lake.write_lake(
                _points(spark, "f1/2023/10/26/19/a.parquet", [99]), lake_path
            )
        return real_fp(spark_, path)

    monkeypatch.setattr(ops, "_listing_fingerprint", fp_with_interleaved_replay)
    with pytest.raises(ops.ConcurrentModificationError):
        ops.compact_partition(spark, lake_path, "f1", 2023, 10, 26, 19)
    monkeypatch.setattr(ops, "_listing_fingerprint", real_fp)

    # the replayed POST survived (the stale staged copy did NOT commit):
    # key "a" now holds ONLY its replayed row, key "b" is untouched
    after = lake.read_partition(spark, lake_path, "f1", 2023, 10, 26, 19)
    got = sorted(r["Timestamp"] for r in after.collect())
    assert got == sorted([99, *range(6)])

    # retry on the quiesced partition compacts and preserves rows exactly
    assert ops.compact_partition(spark, lake_path, "f1", 2023, 10, 26, 19) == 1
    retried = lake.read_partition(spark, lake_path, "f1", 2023, 10, 26, 19)
    assert sorted(r["Timestamp"] for r in retried.collect()) == sorted(
        [99, *range(6)]
    )
