"""Manifest-committed snapshots: atomic replace, time travel, vacuum."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row

from api_to_parquet_spark import ingest, snapshots


def _batch(spark, file, ts_values, tg=1):
    """(points, keys) of one envelope, as commit_batch takes them."""
    raw = spark.createDataFrame(
        [
            (
                json.dumps(
                    {
                        "content": [
                            {"Timestamp": t, "Value": float(t)}
                            for t in ts_values
                        ],
                        "id": "b",
                        "source": "s",
                        "timeGenerated": tg,
                        "file": file,
                    }
                ),
            )
        ],
        ["value"],
    )
    envelopes = ingest.parse_envelopes(raw)
    return ingest.ingest_batch(envelopes)[0], ingest.batch_keys(envelopes)


def test_commit_read_replay_time_travel(spark, tmp_path):
    root = str(tmp_path / "snaplake")
    key = "s/2023/10/26/19/a.parquet"
    v0 = snapshots.commit_batch(spark, root, *_batch(spark, key, [1, 2, 3]))
    v1 = snapshots.commit_batch(
        spark, root, *_batch(spark, "s/2023/10/26/20/b.parquet", [10])
    )
    # replay key -> REPLACES its rows in the new version only
    v2 = snapshots.commit_batch(spark, root, *_batch(spark, key, [99], tg=2))
    assert (v0, v1, v2) == (0, 1, 2)
    # an empty batch commits no version
    points, _ = _batch(spark, key, [5], tg=3)
    assert snapshots.commit_batch(spark, root, points.limit(0), []) == -1
    assert len(snapshots.history(spark, root)) == 3

    latest = sorted(
        r["Timestamp"] for r in snapshots.read_snapshot(spark, root).collect()
    )
    assert latest == [10, 99]  # replaced, not appended
    # time travel: the pre-replay snapshot still reads the old rows
    old = sorted(
        r["Timestamp"]
        for r in snapshots.read_snapshot(spark, root, version=1).collect()
    )
    assert old == [1, 2, 3, 10]


def test_snapshot_isolation_under_replace(spark, tmp_path):
    """A reader that resolved its snapshot BEFORE a replace keeps
    reading the old consistent data — the atomicity the reference's
    directory overwrite cannot give."""
    root = str(tmp_path / "snaplake")
    key = "s/2023/10/26/19/a.parquet"
    snapshots.commit_batch(spark, root, *_batch(spark, key, [1, 2]))
    reader = snapshots.read_snapshot(spark, root)  # resolves v0's dirs
    snapshots.commit_batch(spark, root, *_batch(spark, key, [99], tg=2))
    # the pinned reader still sees v0 exactly
    assert sorted(r["Timestamp"] for r in reader.collect()) == [1, 2]


def test_vacuum_drops_only_unreferenced(spark, tmp_path):
    import os

    root = str(tmp_path / "snaplake")
    key = "s/2023/10/26/19/a.parquet"
    snapshots.commit_batch(spark, root, *_batch(spark, key, [1]))
    snapshots.commit_batch(spark, root, *_batch(spark, key, [2], tg=2))
    assert len(snapshots.history(spark, root)) == 2
    removed = snapshots.vacuum(spark, root, keep_last=1)
    assert removed == 1  # v0's replaced directory gone
    # latest still fully readable; old version no longer listed
    assert [
        r["Timestamp"] for r in snapshots.read_snapshot(spark, root).collect()
    ] == [2]
    assert len(snapshots.history(spark, root)) == 1
    assert len(os.listdir(f"{root}/_data")) == 1


def test_read_empty_root_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        snapshots.read_snapshot(spark, str(tmp_path / "nope"))


def test_streaming_ingest_commits_snapshots(spark, tmp_path):
    """Two file-source triggers become two manifest versions; the replay
    of a key in trigger 2 atomically replaces it in the latest snapshot
    while version 0 stays time-travel-readable."""
    import time

    from api_to_parquet_spark import streaming

    def env(file, ts_values, tg):
        return json.dumps(
            {
                "content": [
                    {"Timestamp": t, "Value": float(t)} for t in ts_values
                ],
                "id": f"b{tg}",
                "source": "s",
                "timeGenerated": tg,
                "file": file,
            }
        )

    inp = tmp_path / "in"
    inp.mkdir()
    key = "s/2023/10/26/19/a.parquet"
    (inp / "b1.json").write_text(env(key, [1, 2], 1) + "\n")
    time.sleep(1.1)
    (inp / "b2.json").write_text(env(key, [99], 2) + "\n")
    root = str(tmp_path / "snaplake")
    q = streaming.start_snapshot_ingest_stream(
        spark,
        str(inp),
        root,
        str(tmp_path / "state"),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(180)
    hist = snapshots.history(spark, root)
    assert len(hist) >= 1
    latest = [
        r["Timestamp"] for r in snapshots.read_snapshot(spark, root).collect()
    ]
    assert sorted(latest) == [99]  # replaced across triggers


def test_compact_binpacks_and_survives_replay(spark, tmp_path):
    """OPTIMIZE analogue: many small per-key dirs bin-pack into one
    shared dir committed as one atomic version; snapshot contents are
    identical; a replay AFTER compaction re-points only its key and the
    per-dir key filter hides the stale rows left in the shared dir;
    pre-compaction versions still time-travel."""
    root = str(tmp_path / "snaplake")
    keys = [f"s/2023/10/26/{h:02d}/k{h}.parquet" for h in range(4)]
    for i, k in enumerate(keys):
        snapshots.commit_batch(spark, root, *_batch(spark, k, [i * 10, i * 10 + 1]))
    before = sorted(
        (r["file"], r["Timestamp"])
        for r in snapshots.read_snapshot(spark, root).collect()
    )
    v_pre = snapshots.history(spark, root)[-1]["version"]

    v_compact = snapshots.compact(spark, root)
    assert v_compact == v_pre + 1
    manifest = snapshots.history(spark, root)[-1]["keys"]
    assert len(set(manifest.values())) == 1  # 4 key dirs -> 1 shared dir
    after = sorted(
        (r["file"], r["Timestamp"])
        for r in snapshots.read_snapshot(spark, root).collect()
    )
    assert after == before  # byte-identical logical contents

    # replay one key: only that key re-points; the shared dir's stale
    # rows for it must NOT surface
    snapshots.commit_batch(spark, root, *_batch(spark, keys[0], [999], tg=2))
    latest = sorted(
        (r["file"], r["Timestamp"])
        for r in snapshots.read_snapshot(spark, root).collect()
    )
    want = sorted(
        [(keys[0], 999)]
        + [(k, t) for (k, t) in before if k != keys[0]]
    )
    assert latest == want

    # time travel to the pre-compaction version still works
    old = sorted(
        (r["file"], r["Timestamp"])
        for r in snapshots.read_snapshot(spark, root, version=v_pre).collect()
    )
    assert old == before

    # vacuum drops the superseded per-key dirs, keeps the shared dir
    removed = snapshots.vacuum(spark, root, keep_last=1)
    assert removed >= 4  # the 4 original key dirs (+ old replay dir)
    still = sorted(
        (r["file"], r["Timestamp"])
        for r in snapshots.read_snapshot(spark, root).collect()
    )
    assert still == want


def test_compact_aborts_on_concurrent_commit(spark, tmp_path, monkeypatch):
    """If a replay commits between compaction's manifest read and its
    commit rename, the compaction version is already taken — the write
    must fail loudly (and re-point nothing) instead of clobbering the
    replay's manifest."""
    root = str(tmp_path / "snaplake")
    keys = [f"s/2023/10/26/{h:02d}/k{h}.parquet" for h in range(3)]
    for i, k in enumerate(keys):
        snapshots.commit_batch(spark, root, *_batch(spark, k, [i]))

    real_write = snapshots._write_manifest

    def commit_then_write(spark_, root_, version, manifest):
        monkeypatch.setattr(snapshots, "_write_manifest", real_write)
        snapshots.commit_batch(
            spark, root, *_batch(spark, keys[0], [777], tg=2)
        )  # the interleaved replay takes this version number
        real_write(spark_, root_, version, manifest)

    monkeypatch.setattr(snapshots, "_write_manifest", commit_then_write)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        snapshots.compact(spark, root)
    monkeypatch.setattr(snapshots, "_write_manifest", real_write)

    # the replay won; its data is intact and nothing was re-pointed
    latest = sorted(
        (r["file"], r["Timestamp"])
        for r in snapshots.read_snapshot(spark, root).collect()
    )
    assert (keys[0], 777) in latest
    assert (keys[0], 0) not in latest


def test_compact_converges(spark, tmp_path):
    """compact() must be idempotent at the fixpoint: a second call over
    already-compacted data returns -1 instead of rewriting the same
    rows into a fresh dir and bumping the version forever."""
    from api_to_parquet_spark import snapshots

    root = str(tmp_path / "snap")
    for i in range(3):
        df = spark.range(5).selectExpr(
            "id", f"'k{i}' AS file", "1 AS time_generated"
        )
        keys = [Row(file=f"k{i}", time_generated=1, max_timestamp=0)]
        snapshots.commit_batch(spark, root, df, keys)
    v = snapshots.compact(spark, root, target_bytes=10 * 1024 * 1024)
    assert v >= 0
    assert snapshots.compact(spark, root, target_bytes=10 * 1024 * 1024) == -1
