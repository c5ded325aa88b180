"""Stateful scalar aggregates: lastTimeGenerated + monotonic maxTimestamp.

Re-expresses the reference's Redis-backed state (/root/reference/src/main.go:313-322,
src/cache.go) as a versioned JSON document under `state_path`, the
analogue of the reference's JSON value in Redis, read and committed on
the driver by the snapshot manifest helpers: no Spark job, and a
concurrent reader sees the old version or the new one, never none. One
writer per `state_path` (POST /'s write lock or the streaming query); a
second writer's stale commit raises through the manifest's lost-commit
guard instead of silently dropping an update. Streaming mode keeps the
same two scalars in the Structured Streaming state store (streaming.py).
"""

from __future__ import annotations

from pyspark.sql import Row, SparkSession

from api_to_parquet_spark import snapshots


def _latest(spark: SparkSession, state_path: str) -> tuple[int, Row]:
    """The latest version and its state; (-1, empty state) while
    `state_path` holds no version and nothing but the manifest directory
    (missing, or its first commit in flight: the directories appear one
    level at a time). A path holding anything else (an old Parquet
    control table) or an unparsable version raises, so a merge can
    never silently reset the monotonic max."""
    versions = snapshots._list_versions(spark, state_path)
    if not versions:
        jvm, fs = snapshots._fs(spark, state_path)
        root = jvm.org.apache.hadoop.fs.Path(state_path)
        if fs.exists(root) and any(
            st.getPath().getName() != snapshots._MANIFESTS
            for st in fs.listStatus(root)
        ):
            raise FileNotFoundError(f"no state version at {state_path}")
        return -1, Row(last_time_generated=None, max_timestamp=None)
    doc = snapshots._read_manifest(spark, state_path, versions[-1])
    return versions[-1], Row(
        last_time_generated=doc["last_time_generated"],
        max_timestamp=doc["max_timestamp"],
    )


def read_state(spark: SparkSession, state_path: str) -> Row:
    """GET / equivalent (reference src/main.go:234-245)."""
    return _latest(spark, state_path)[1]


def update_state(spark: SparkSession, state_path: str, keys: list[Row]) -> Row:
    """Merge one batch's envelope rows (ingest.batch_keys) into the state:
    last_time_generated ← the batch's arrival-order-latest timeGenerated
    (last-write-wins); max_timestamp ← greatest(stored, batch max),
    monotonic. The result is the next version; versions before the
    previous one are dropped, so a reader that listed just before this
    commit can still open the version it listed."""
    version, prev = _latest(spark, state_path)
    stamps = [k["max_timestamp"] for k in keys]
    if prev["max_timestamp"] is not None:
        stamps.append(prev["max_timestamp"])
    new = Row(
        last_time_generated=max(
            (k["time_generated"] for k in keys),
            default=prev["last_time_generated"],
        ),
        max_timestamp=max(stamps, default=None),
    )
    snapshots._write_manifest(spark, state_path, version + 1, new.asDict())
    snapshots.vacuum(spark, state_path, keep_last=2)
    return new
